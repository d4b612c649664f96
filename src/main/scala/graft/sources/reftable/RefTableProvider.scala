package graft.sources.reftable

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 provider for the refreshable-snapshot table source.
  *
  * The Spark-native rebuild of the reference plugin (reference entry point:
  * TableStreamingSource.java:72-96): a keyed table re-read from storage every
  * `refreshInterval`, each refresh generation emitted as one complete
  * snapshot into a Structured Streaming query (and also readable as a plain
  * batch table). Deploy-time validation (reference configurePipeline,
  * TableStreamingSource.java:59-70) happens in [[inferSchema]] — analysis
  * time, driver only; invalid options never launch a job.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("reftable")
  *     .option("path", dir).option("schema", ddlOrRecordJson)
  *     .option("rowField", "row_key").option("keyColumn", "n_nationkey")
  *     .option("refreshInterval", "5s")
  *     .load()
  * }}}
  */
class RefTableProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "reftable"

  /** `writeStream.format("reftable")`: publish each batch as a version of
    * the table at `path` (see [[RefTableSink]]).
    *
    *  - `outputMode=complete`: every batch is the full table state →
    *    published whole ([[VersionedTable.completeModePublisher]]);
    *  - `outputMode=append`: every batch is a delta → committed O(new data)
    *    via [[RefTableWrites.appendVersion]] with a `txn:<appId>:<batchId>`
    *    marker riding the commit CAS, so restart/zombie replays of a batch
    *    land EXACTLY ONCE (the reference's restart contract,
    *    PipelineTest.java:151-177: rows written across a restart all
    *    visible, none duplicated). `appId` is the streaming query id
    *    (stable across restarts from the checkpoint) unless overridden by
    *    the `txnAppId` option — override it when two different queries
    *    must append to the same table from shared checkpoint lineages;
    *  - `outputMode=update`: requires declared `keyColumns` — each batch is
    *    the CHANGED rows of a keyed result (the watermarked-aggregation
    *    shape), applied as an O(batch) merge-on-read upsert on those keys
    *    under the same `txn:` marker discipline. Without `keyColumns`
    *    update mode stays refused: changed rows have no merge semantics
    *    without a key.
    *
    * The same explicit-schema contract as reads: `path` and `schema` are
    * required and validated up front (DataStreamWriter routes
    * TableProviders through inferSchema before the V1-sink fallback, so
    * schema-less sink options could never reach here anyway), and each
    * arriving batch is checked against the declaration. Extra options:
    * `keepVersions` (default 3); `partitionColumns` produce a Hive layout
    * inside each version, with the DataStreamWriter's `partitionBy`
    * honored when the option is absent.
    */
  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val append = outputMode == org.apache.spark.sql.streaming.OutputMode.Append()
    val update = outputMode == org.apache.spark.sql.streaming.OutputMode.Update()
    if (!append && !update && outputMode != org.apache.spark.sql.streaming.OutputMode.Complete())
      throw new IllegalArgumentException(
        "reftable sink supports outputMode=complete (each batch is the full table " +
          "state), outputMode=append (each batch committed as an O(new data) version " +
          "with exactly-once replay markers), and outputMode=update on tables that " +
          "declare 'keyColumns' (each batch applied as a keyed upsert)")
    val opts = RefTableOptions.from(
      new CaseInsensitiveStringMap(parameters.asJava))
    if (update && opts.keyColumns.isEmpty)
      throw new IllegalArgumentException(
        "reftable sink: outputMode=update needs the table's merge key — declare " +
          "'keyColumns' (comma-separated schema fields); each update batch then " +
          "applies as an O(batch) merge-on-read upsert on those keys")
    if (opts.version.nonEmpty)
      throw new IllegalArgumentException("reftable sink: a pinned 'version' is read-only")
    if (opts.genColumn.nonEmpty)
      throw new IllegalArgumentException(
        "reftable sink: 'genColumn' is a read-side projection of refresh generations")
    val keep = opts.keepVersions // validated with every other option
    val partCols =
      if (opts.partitionColumns.nonEmpty) opts.partitionColumns else partitionColumns
    // writer-side partitionBy bypasses the option validation path
    partCols.foreach(c => if (!opts.schema.fieldNames.contains(c))
      throw new IllegalArgumentException(
        s"reftable sink: partition column '$c' is not a field of the declared schema"))
    if ((append || update) &&
        (opts.clusterBy.nonEmpty || opts.zorderBy.nonEmpty || opts.bucketBy.nonEmpty))
      throw new IllegalArgumentException(
        "reftable append/update sink: clusterBy/zorderBy/bucketBy layouts are GLOBAL " +
          "properties that re-cluster on every commit; use outputMode=complete (or batch INSERT)")
    new RefTableSink(opts, keep, partCols, append = append, update = update,
      txnAppId = parameters.get("txnAppId").filter(_.nonEmpty))
  }

  // Deploy-time vs run-time validation split (reference:
  // TableStreamingSource.java:59-70 vs :74-76): inferSchema runs at analysis
  // time and rejects bad options before any job launches; getTable re-runs
  // the same validation at table-resolution time, which is where late-bound
  // option values land in Spark (the analogue of the reference's CDAP-macro
  // case — macros defer dataset creation to run time,
  // TableStreamingSource.java:67-69; Spark has no macro layer, so the second
  // validation pass is the whole contract).

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RefTableOptions.from(options).outputSchema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val raw = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toMap
    }
    new RefTable(RefTableOptions.from(new CaseInsensitiveStringMap(properties)), raw)
  }
}

class RefTable(val opts: RefTableOptions, raw: Map[String, String] = Map.empty) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String = s"reftable(${opts.path})"
  // the Spark-facing schema carries DEFAULT declarations (CURRENT_DEFAULT /
  // EXISTS_DEFAULT field metadata, from the `columnDefaults` descriptor
  // option) so INSERT resolution fills omitted columns; the engine's own
  // paths keep using the plain opts.schema/outputSchema
  override def schema(): StructType =
    RefTableCatalog.attachDefaultsMetadata(opts.outputSchema, raw)

  // Declared expectations are NOT reported back through Table.constraints():
  // Spark pre-enforces any reported CHECK in the write plan (even
  // enforced=false), which would refuse rows the gate's declared
  // onViolation=drop/quarantine semantics must ROUTE, and would replace the
  // gate's per-rule census errors under fail. The SQL constraint surface is
  // one-way by design: CONSTRAINT ... CHECK declarations map onto
  // `expect.<name>` options (RefTableCatalog), and the gates enforce them
  // on every write surface.

  /** The descriptor's raw option map — what a re-read of this table needs
    * to reconstruct the exact same options (consumed by the
    * `table_changes` TVF rewrite).
    */
  private[graft] def descriptorOptions: Map[String, String] = raw

  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED surface: the descriptor's
    * declared options under the same `option.` prefix `ALTER TABLE SET
    * TBLPROPERTIES` takes, so the two surfaces round-trip. Structural
    * keys (path/schema/version pins) stay internal.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    raw.foreach { case (k, v) =>
      if (!Set("path", "schema", "version", "changefeed").contains(k))
        m.put(org.apache.spark.sql.connector.catalog.TableCatalog.OPTION_PREFIX + k, v)
    }
    m
  }

  /** SQL `DELETE FROM` / `TRUNCATE TABLE`, routed into the file-granular
    * copy-on-write mutation ([[RefTableMutations.deleteWhere]]) — the
    * declared `partitionColumns` thread through so Hive-partitioned
    * layouts mutate first-class (partition pruning narrows the rewrite
    * before file stats do). Only predicates with an exact Column
    * equivalent are accepted — Spark refuses the DELETE otherwise, never
    * over- or under-deletes. Read-only projections (pinned `version`,
    * `genColumn`) refuse at planning time via canDeleteWhere.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    opts.version.isEmpty && opts.genColumn.isEmpty &&
      filters.forall(f =>
        f == org.apache.spark.sql.sources.AlwaysTrue() ||
          RefTableFilters.toColumn(opts, f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    // nothing published yet: DELETE/TRUNCATE of an empty table is a no-op
    if (VersionedTable.resolve(opts.path).isEmpty) return
    val truncate =
      filters.isEmpty || filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue())
    if (truncate) {
      // TRUNCATE: publish an empty version under the STORAGE schema —
      // one empty parquet file keeps the version dir listable
      val storage = StructType(opts.schema.fields.map(f =>
        f.copy(name = opts.storageColumn(f.name))))
      VersionedTable.publish(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), storage)
          .repartition(1),
        opts.path)
    } else {
      val cond = filters.map(f => RefTableFilters.toColumn(opts, f).getOrElse(
        throw new UnsupportedOperationException(s"cannot push delete predicate $f")))
        .reduce(_ && _)
      if (opts.deleteMode == "mergeOnRead")
        RefTableMutations.deleteWhereMergeOnRead(spark, opts.path, cond, opts.keepVersions,
          opts.partitionColumns, RefTableMutations.partitionTypesOf(opts))
      else
        RefTableMutations.deleteWhere(spark, opts.path, cond, opts.keepVersions,
          opts.partitionColumns, RefTableMutations.partitionTypesOf(opts))
    }
    ()
  }
  // BATCH_WRITE is required by the DataFrameWriter.save() capability gate
  // even though the produced Write is a V1Write fallback; V1_BATCH_WRITE is
  // what routes the physical plan through the InsertableRelation.
  // STREAMING_WRITE serves `writeStream.toTable(...)` through the DSv2
  // path (RefTableStreamingWrite) — catalog tables have no V1 fallback.
  // AUTOMATIC_SCHEMA_EVOLUTION arms `MERGE WITH SCHEMA EVOLUTION`:
  // Spark's ResolveMergeIntoSchemaEvolution ALTERs the catalog table
  // (riding our ADD COLUMN support) and re-resolves before the DML
  // rewrite ever sees the plan; non-catalog relations fail loudly there.
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  /** Read-side option keys a `spark.read/readStream.option(...).table(t)`
    * call may override PER SCAN: everything that shapes a read WITHOUT
    * changing the relation's schema (`version` time travel, a declared
    * `filter`, refresh cadence, admission caps, pruning toggles). Schema-
    * EXTENDING options (`changefeed`, `genColumn`) cannot ride a per-scan
    * override — Spark fixes a catalog relation's schema at table
    * resolution, before scan options exist — so they refuse with the
    * working surfaces named. Unknown/other keys are ignored here —
    * `path`/`schema`/layout options stay descriptor-owned.
    */
  private val PerScanKeys = Set(
    "version", "filter", "refreshinterval", "emitmode", "maxfilespertrigger",
    "maxbytespertrigger", "groupbypartition", "statspruning",
    "allowmissingcolumns", "strictsnapshot",
    // schema-preserving by construction (a branch shares main's declared
    // schema); resolves through the path rewrite in RefTableOptions.from
    "branch")

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    import scala.jdk.CollectionConverters._
    val given = options.asCaseSensitiveMap().asScala.toMap
      .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    for (k <- Seq("changefeed", "gencolumn"); if given.contains(k) && raw.nonEmpty &&
        !raw.keys.exists(_.equalsIgnoreCase(k)))
      throw new UnsupportedOperationException(
        s"reftable: '$k' extends the relation's schema and cannot be a per-scan read " +
          "option on a catalog table (Spark fixes the schema at table resolution); " +
          "read the `t$changefeed` metadata table, or use " +
          "spark.read/readStream.format(\"reftable\") with explicit path/schema options")
    val overrides = given.filter { case (k, _) => PerScanKeys.contains(k) }
    if (overrides.isEmpty || raw.isEmpty) new RefTableScanBuilder(opts)
    else
      // re-validated like any option set; a bad per-scan option fails the
      // read at analysis time with the standard validation message
      new RefTableScanBuilder(RefTableOptions.from(
        new CaseInsensitiveStringMap((raw ++ overrides).asJava)))
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    // tables with a declared merge key accept streaming UPDATE mode —
    // signaled to Spark purely through the builder's marker interface
    // (see RefTableKeyedWriteBuilder)
    if (opts.keyColumns.nonEmpty) new RefTableKeyedWriteBuilder(opts, info)
    else new RefTableWriteBuilder(opts, info)
}

/** Column pruning reaches the parquet readers (the reference's analogue:
  * schema-restricted decoding, TableStreamingSource.java:114-116 — only
  * declared columns are decoded).
  */
class RefTableScanBuilder(opts: RefTableOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  private var required: StructType = opts.outputSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[RefTableAggregates.PushedAgg] = None
  private var pushedLimit: Option[Int] = None
  // the QUERYING session's timezone, captured while its planning thread is
  // constructing this builder — reading SparkSession.active later (at
  // pushAggregation time) could observe a different session of the JVM
  private val sessionTz: String =
    org.apache.spark.sql.SparkSession.active.sessionState.conf.sessionLocalTimeZone

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve our field order/types; honor the requested subset
    val names = requiredSchema.fieldNames.toSet
    required = StructType(opts.outputSchema.fields.filter(f => names.contains(f.name)))
  }

  /** Translatable filters are pushed for parquet row-group / page skipping,
    * but EVERY filter is also returned as a residual for Spark to
    * re-evaluate — the same contract as Spark's own file sources. The
    * vectorized read path only filters at row-group/page granularity, and
    * treating pushed filters as exact is how three-valued-logic bugs sneak
    * in (parquet record-level notEq keeps nulls); re-evaluation costs one
    * codegen'd pass over survivors and buys exactness by construction.
    *
    * Filters over partition columns are retained too: they never reach
    * parquet (the columns aren't in the files) but prune the directory
    * listing on the driver (RefTablePartitioning.prune).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      RefTableFilters.translate(opts, f).isDefined ||
        (f.references.nonEmpty && f.references.forall(opts.isPartitionCol)))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT/MIN/MAX from footer statistics (see [[RefTableAggregates]]).
    * Spark only offers an aggregation for pushdown when every filter was
    * fully consumed by the source; our residual-filter contract therefore
    * already restricts this to filterless scans — `pushed.isEmpty` makes
    * the invariant explicit.
    */
  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (pushed.nonEmpty) return false
    if (opts.changefeed) return false // batch reads are refused under changefeed
    // merge-on-read deletion vectors invalidate footer counts (and can
    // hide a deleted extremum): decline, the real scan subtracts them
    val conf = HadoopConf()
    if (DeletionVectors.hasDv(SnapshotFiles.resolveDir(opts.path, opts.version, conf), conf))
      return false
    RefTableAggregates.accept(opts, aggregation, sessionTz) match {
      case Some(p) => pushedAgg = Some(p); true
      case None => false
    }
  }

  /** LIMIT pushdown: readers stop after N rows per partition — partial
    * (Spark still applies the global limit above), so a `LIMIT 5` preview
    * of a 100 TB snapshot reads a handful of pages per partition instead
    * of whole files. Guarded to filterless scans: with a pushed parquet
    * predicate the vectorized reader over-returns at page granularity and
    * a per-partition cap could starve the residual filter of matches.
    */
  override def pushLimit(limit: Int): Boolean = {
    if (pushed.nonEmpty) return false
    pushedLimit = Some(limit)
    true
  }

  override def build(): Scan = pushedAgg match {
    case Some(p) => new RefTableAggScan(opts, p)
    case None => new RefTableScan(opts, required, pushed, pushedLimit)
  }
}

class RefTableScan(
    opts: RefTableOptions, required: StructType, pushed: Array[Filter],
    limit: Option[Int] = None)
    extends Scan with SupportsReportStatistics with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  // the `filter` option's declared predicate, resolved once per scan —
  // the only pruning channel streaming scans have (see
  // RefTableFilters.declared); merged everywhere Catalyst-pushed filters
  // flow, batch included (pruning is conservative, residual evaluation is
  // the caller's declared contract)
  private val declared: Array[Filter] = RefTableFilters.declared(opts).toArray
  override def readSchema(): StructType = required
  override def description(): String =
    s"reftable(${opts.path}) refresh=${opts.refreshMs}ms cols=[${required.fieldNames.mkString(",")}]" +
      s" PushedFilters: [${pushed.mkString(", ")}]" +
      (if (declared.isEmpty) "" else s" DeclaredFilters: [${declared.mkString(", ")}]") +
      limit.fold("")(n => s" PushedLimit: $n")

  /** Runtime (dynamic-partition-pruning) filters: a join against a
    * selective dimension hands the dim-side key values to this scan at
    * execution time; values over partition columns prune the listing just
    * like statically pushed filters. This is what keeps a date-partitioned
    * 100 TB fact scan from reading every date when the join itself names
    * the dates. Spark re-invokes toBatch after filter(), so the batch
    * below plans with the combined filter set.
    */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    opts.partitionColumns
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit = { runtimeFilters = filters }

  // scan observability: pruning effectiveness + read volume as SQL metrics
  // on the scan node (see RefTableMetrics); the Batch fills the driver-side
  // counts during planInputPartitions, Spark posts them right after
  private val driverMetrics = new RefTableMetrics.DriverScanMetrics
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    RefTableMetrics.scanMetrics
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    driverMetrics.report

  // the stream this scan planned, if it is a streaming scan: its
  // statistics come from the listing the stream pinned
  @volatile private var stream: Option[RefTableMicroBatchStream] = None

  /** Size the snapshot for the optimizer: without statistics a DSv2 relation
    * defaults to Long.MaxValue and is NEVER auto-broadcast — which would
    * defeat the source's documented purpose (a small lookup table feeding a
    * join, docs/Table-streamingsource.md:10-14). A batch scan sizes a fresh
    * listing; a streaming scan sizes the generation its stream pinned (see
    * [[RefTableMicroBatchStream.statistics]]) and lists nothing per trigger.
    */
  override def estimateStatistics(): Statistics =
    stream.flatMap(_.statistics()).getOrElse(
      new RefTableStatistics(opts, required, SnapshotFiles.listing(opts, (pushed ++ declared).toSeq)))

  /** Storage-partitioned joins: with `groupByPartition` the scan reports
    * KeyGroupedPartitioning over its partition columns — one planned
    * partition per distinct value, key exposed on each
    * ([[RefTableGroupedInputPartition]]) — and under
    * `spark.sql.sources.v2.bucketing.enabled` Spark matches two
    * co-partitioned scans and plans their equi-join with no Exchange on
    * either side. Computed over the statically-pruned listing (runtime
    * filters arrive later; they can only remove whole key groups, which
    * Spark's partition matching handles).
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (opts.groupByPartition && opts.partitionColumns.nonEmpty) {
      val n = SnapshotFiles.pruned(opts, (pushed ++ declared).toSeq)
        .map(f => opts.partitionColumns.map(f.partitionValues.getOrElse(_, null)))
        .distinct.size
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        opts.partitionColumns.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression).toArray,
        math.max(n, 1))
    } else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  override def toBatch: Batch = {
    if (opts.changefeed)
      throw new UnsupportedOperationException(
        "changefeed is a streaming read mode (readStream); batch reads return snapshots — " +
          "drop the option, or use VersionedTable.changes for a one-shot version diff")
    new RefTableBatch(opts, required, pushed ++ declared ++ runtimeFilters, limit,
      Some(driverMetrics))
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    if (opts.changefeed)
      new RefTableChangefeedStream(opts, required, pushed ++ declared, checkpointLocation)
    else {
      val s = new RefTableMicroBatchStream(opts, required, pushed ++ declared)
      stream = Some(s)
      s
    }
}

/** Optimizer statistics of one pinned listing. File bytes scaled by the
  * session compression factor, like Spark's own file sources.
  */
class RefTableStatistics(
    opts: RefTableOptions, required: StructType, listing: SnapshotFiles.Listing)
    extends Statistics {
  private val prunedFiles = listing.files
  private val bytes: Long = {
    val factor =
      try org.apache.spark.sql.SparkSession.active.conf
        .get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
      catch { case _: Throwable => 1.0 }
    // post-pruning size: a partition-filtered scan of a huge table is
    // exactly the case where accurate (small) stats enable the broadcast
    math.max(1L, (prunedFiles.map(_.length).sum * factor).toLong)
  }
  // exact post-pruning row count from the stats manifest (DV-masked rows
  // subtracted) — present only when EVERY surviving file has a fresh
  // stats entry; an upper bound under residual filters, like Spark's own
  // file-source estimates. Feeds the CBO's join-order/build-side choices.
  private val fileStats: Option[Seq[RefTableStats.FileStats]] =
    try {
      val stats = RefTableStats.statsForListing(listing.resolved, prunedFiles, HadoopConf())
      val perFile = prunedFiles.map(f => stats.get(f.path))
      if (perFile.forall(_.isDefined)) Some(perFile.flatten) else None
    } catch { case _: Throwable => None }
  private val rows: java.util.OptionalLong = fileStats match {
    case Some(fss) => java.util.OptionalLong.of(math.max(0L,
      fss.map(_.rows).sum - prunedFiles.map(_.dvPositions.size.toLong).sum))
    case None => java.util.OptionalLong.empty()
  }
  // per-column CBO statistics over the SURVIVING files: NDV from the
  // unioned per-file HLL sketches the `ndvStats` writer option lands in
  // the manifest (union only when every surviving file carries a sketch
  // — a partial union would silently understate), null counts summed
  // from the same entries. Spark's transformV2Stats turns these into
  // catalyst ColumnStat, so equality-filter selectivity and join
  // cardinality estimate from real NDVs at PLAN time — the broadcast
  // build side is picked before a single task runs, no AQE re-plan.
  // LAZY and file-count-bounded: the union heapifies one ~KB sketch per
  // surviving file per sketched column, so it runs only when Spark
  // actually asks for columnStats (CBO on), and a listing past the bound
  // reports no column stats rather than megabytes of driver sketch work
  // per plan — row/size stats keep the broadcast decision usable there
  private lazy val colStats
      : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    // keyed on what the MANIFEST carries, not on a read option: ndvStats
    // is a writer declaration, and readers of an ndv-sketched table get
    // the column stats with a bare path+schema
    for (fss <- fileStats; if prunedFiles.size <= 4096; f <- required.fields) {
      val sc = opts.storageColumn(f.name)
      val entries = fss.map(_.cols.get(sc))
      if (entries.nonEmpty && entries.forall(_.exists(_.hll.isDefined))) {
        val ndvOpt = RefTableStats.ndvEstimate(entries.map(_.get.hll.get))
        val nullsKnown = entries.forall(_.get.nulls >= 0L)
        // per-file null counts predate deletion vectors, while numRows
        // subtracts DV'd positions — clamp so a heavily-deleted listing
        // can never report nullCount > rowCount (a nonsense null
        // fraction that skews CBO selectivity)
        val nulls = math.min(entries.map(_.get.nulls).sum,
          rows.orElse(Long.MaxValue))
        ndvOpt.foreach { ndv =>
          // equi-height histogram from the surviving files' merged KLL
          // sketches (plain-numeric ndvStats columns carry them):
          // range-filter selectivity estimates from real value mass, not
          // min/max uniformity — union only when EVERY surviving file
          // carries a sketch, like the NDV rule above. The sketch's
          // exact bounds feed min()/max() as catalyst-typed values
          // (FilterEstimation never consults a histogram without them).
          val histInfo: Option[RefTableStats.KllHist] =
            if (!entries.forall(_.exists(_.kll.isDefined))) None
            else RefTableStats.kllHistogram(entries.map(_.get.kll.get), ndv)
          // catalyst-internal min/max values from the sketch's double
          // form (timestamps were sketched in micros, dates in days —
          // exactly the internal Long/Int representations)
          def typed(v: Double): Option[Object] = f.dataType match {
            case org.apache.spark.sql.types.IntegerType => Some(Int.box(v.toInt))
            case org.apache.spark.sql.types.LongType => Some(Long.box(v.toLong))
            case org.apache.spark.sql.types.ShortType => Some(Short.box(v.toShort))
            case org.apache.spark.sql.types.ByteType => Some(Byte.box(v.toByte))
            case org.apache.spark.sql.types.FloatType => Some(Float.box(v.toFloat))
            case org.apache.spark.sql.types.DoubleType => Some(Double.box(v))
            case org.apache.spark.sql.types.TimestampType => Some(Long.box(v.toLong))
            case org.apache.spark.sql.types.DateType => Some(Int.box(v.toInt))
            case _ => None
          }
          val hist: Option[org.apache.spark.sql.connector.read.colstats.Histogram] =
            histInfo.map { kh =>
              val binArr = kh.bins.map { case (binLo, binHi, binNdv) =>
                new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                  override def lo(): Double = binLo
                  override def hi(): Double = binHi
                  override def ndv(): Long = binNdv
                }
              }.toArray
              new org.apache.spark.sql.connector.read.colstats.Histogram {
                override def height(): Double = kh.height
                override def bins()
                    : Array[org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                  binArr
              }
            }
          val minV = histInfo.flatMap(kh => typed(kh.min))
          val maxV = histInfo.flatMap(kh => typed(kh.max))
          m.put(org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(ndv)
              override def nullCount(): java.util.OptionalLong =
                if (nullsKnown) java.util.OptionalLong.of(nulls)
                else java.util.OptionalLong.empty()
              override def min(): java.util.Optional[Object] =
                minV.map(java.util.Optional.of[Object](_))
                  .getOrElse(java.util.Optional.empty())
              override def max(): java.util.Optional[Object] =
                maxV.map(java.util.Optional.of[Object](_))
                  .getOrElse(java.util.Optional.empty())
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                hist.map(java.util.Optional.of[
                  org.apache.spark.sql.connector.read.colstats.Histogram](_))
                  .getOrElse(java.util.Optional.empty())
            })
        }
      }
    }
    m
  }
  override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
  override def numRows(): java.util.OptionalLong = rows
  override def columnStats(): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
}

/** One-shot batch read of the current snapshot. */
class RefTableBatch(
    opts: RefTableOptions, required: StructType, pushed: Array[Filter],
    limit: Option[Int] = None,
    metrics: Option[RefTableMetrics.DriverScanMetrics] = None) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val gen = if (opts.refreshMs <= 0) 0L else System.currentTimeMillis() / opts.refreshMs
    val listing = SnapshotFiles.listing(opts, pushed.toSeq)
    val pruned = listing.files
    metrics.foreach { m => m.listed = listing.listed; m.kept = pruned.size }
    if (opts.groupByPartition && opts.partitionColumns.nonEmpty)
      RefTablePartitions.planGrouped(pruned, gen, opts)
    else RefTablePartitions.plan(pruned, gen)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new RefTableReaderFactory(opts, required, pushed, limit,
      HadoopConf.broadcast(org.apache.spark.sql.SparkSession.active))
}
