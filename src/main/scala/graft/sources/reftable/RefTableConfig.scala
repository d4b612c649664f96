package graft.sources.reftable

import scala.util.control.NonFatal

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Duration literals with the reference's exact grammar: `\d+[dhms]`
  * (reference: TableStreamingSourceConfig.java:115 validates with this regex;
  * hydrator-common TimeParser supplies the semantics; default is 1h,
  * TableStreamingSourceConfig.java:109-111).
  */
object Durations {
  private val Pattern = """^(\d+)([dhms])$""".r

  def parse(s: String): Long = s.trim match {
    case Pattern(n, unit) =>
      val v = n.toLong
      unit match {
        case "s" => v * 1000L
        case "m" => v * 60L * 1000L
        case "h" => v * 60L * 60L * 1000L
        case "d" => v * 24L * 60L * 60L * 1000L
      }
    case other =>
      throw new IllegalArgumentException(
        s"Invalid duration '$other': must match \\d+[dhms] (e.g. '5s', '10m', '1h', '2d')")
  }
}

/** Avro-style record-schema JSON (the reference's schema config format —
  * parsed by Schema.parseJson at TableStreamingSourceConfig.java:101-107; the
  * documented shape is docs/Table-streamingsource.md:43-51: a top-level record
  * with named fields whose types are primitives or ["type","null"] unions).
  * Spark DDL strings ("a INT, b STRING") are also accepted.
  */
object SchemaJson {
  def parse(s: String): StructType = {
    val trimmed = s.trim
    if (trimmed.startsWith("{")) parseRecordJson(trimmed)
    else StructType.fromDDL(trimmed)
  }

  private def primitive(t: String): DataType = t match {
    case "boolean" => BooleanType
    case "int"     => IntegerType
    case "long"    => LongType
    case "float"   => FloatType
    case "double"  => DoubleType
    case "string"  => StringType
    case "bytes"   => BinaryType
    case "timestamp" => TimestampType
    case other => throw new IllegalArgumentException(s"Unsupported schema type '$other'")
  }

  /** Minimal JSON walker for the record shape — no external JSON dep needed
    * beyond Jackson, which ships with Spark.
    */
  private def parseRecordJson(s: String): StructType = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val root = try new ObjectMapper().readTree(s)
    catch { case NonFatal(e) => throw new IllegalArgumentException(s"Invalid schema JSON: ${e.getMessage}") }
    if (root.path("type").asText() != "record")
      throw new IllegalArgumentException("Schema JSON must be a record schema")
    val fields = root.path("fields")
    if (!fields.isArray || fields.isEmpty)
      throw new IllegalArgumentException("Schema JSON must declare a non-empty fields array")
    val out = (0 until fields.size()).map { i =>
      val f = fields.get(i)
      val name = f.path("name").asText()
      if (name.isEmpty) throw new IllegalArgumentException(s"Schema field $i has no name")
      val t = f.path("type")
      if (t.isTextual) StructField(name, primitive(t.asText()), nullable = false)
      else if (t.isArray) {
        // nullable union: [T, "null"] in either order
        val parts = (0 until t.size()).map(j => t.get(j).asText())
        val nonNull = parts.filterNot(_ == "null")
        if (nonNull.size != 1 || parts.size > 2)
          throw new IllegalArgumentException(s"Field '$name': only [T, \"null\"] unions are supported")
        StructField(name, primitive(nonNull.head), nullable = parts.contains("null"))
      } else throw new IllegalArgumentException(s"Field '$name' has an invalid type")
    }
    StructType(out)
  }
}

/** Validated source options — the analogue of TableStreamingSourceConfig.
  *
  * Options:
  *  - `path`            (required) parquet directory of the snapshot table
  *  - `schema`          (required — the reference has no schema inference)
  *                      record-JSON or Spark DDL, the *output* schema
  *  - `rowField`        (optional) output field populated from `keyColumn`
  *                      (reference: TableStreamingSourceConfig.java:52-56 —
  *                      must exist in the schema and be non-nullable,
  *                      :131-142)
  *  - `keyColumn`       storage column acting as the row key (required iff
  *                      rowField is set; the parquet analogue of the byte[]
  *                      row key)
  *  - `refreshInterval` duration literal, default "1h"
  *                      (TableStreamingSourceConfig.java:109-111)
  *  - `emitMode`        "refresh" (default; one micro-batch per refresh
  *                      generation — idiomatic Structured Streaming) or
  *                      "trigger" (offset advances every trigger, the
  *                      reference's DStream cadence where each batch re-emits
  *                      the current snapshot)
  *  - `genColumn`       (optional) name of an extra long column carrying the
  *                      refresh generation
  *  - `maxFilesPerTrigger` / `maxBytesPerTrigger` (optional) admission
  *                      control: cap each micro-batch at N snapshot files /
  *                      ~N bytes (size literal like `128MB` accepted). A
  *                      generation larger than the cap is emitted across
  *                      several micro-batches; the generation stays pinned
  *                      until fully emitted, so snapshot identity holds.
  *  - `partitionColumns` (optional) comma-separated schema fields populated
  *                      from Hive-style `col=value` directory names, in
  *                      nesting order. Partitioned layout is how a 100 TB
  *                      table actually sits on storage; filters over these
  *                      columns prune the listing on the driver
  *                      (see [[RefTablePartitioning]]).
  *  - `version`         (optional) pin reads to a named version of a
  *                      [[VersionedTable]] root (time travel) instead of
  *                      resolving the `_CURRENT` pointer.
  *  - `allowMissingColumns` (optional, default false) forward schema
  *                      evolution: declared columns absent from older
  *                      files read as nulls instead of erroring.
  *  - `filter`          (optional) SQL predicate DECLARING the filter the
  *                      query applies over this table — e.g.
  *                      `"x >= 10 AND x < 20 AND y < 5"`. Spark never
  *                      pushes Catalyst filters into a streaming DSv2 scan
  *                      (MicroBatchExecution builds the ScanBuilder
  *                      without V2ScanRelationPushDown), so a streaming
  *                      query's predicate cannot reach the source the way
  *                      a batch query's does; this option closes the gap
  *                      by declaration. The source prunes listings
  *                      (partition dirs, stats manifest) and row-groups
  *                      with it; rows from surviving files are emitted
  *                      UNFILTERED — the query's own filter stays the
  *                      exactness residual, identical to the batch pushed-
  *                      filter contract. Declare only predicates the query
  *                      actually applies.
  *  - `strictSnapshot`  (optional, default false) refuse the admission
  *                      caps (`maxFilesPerTrigger`/`maxBytesPerTrigger`):
  *                      a chunked generation recovered after a driver
  *                      restart is re-emitted from a FRESH listing
  *                      (at-least-once within the abandoned generation —
  *                      see [[RefTableMicroBatchStream]]), so sinks that
  *                      demand exact generation determinism must run
  *                      unchunked. Setting this makes that contract a
  *                      validation error instead of a runbook footnote.
  *  - `statsPruning`    (optional, default true) skip whole files at
  *                      listing time from the statistics manifest's
  *                      per-file min/max under the pushed filters — the
  *                      single `_STATS.json` document on small versions,
  *                      the sharded `_STATS/` parquet manifest (evaluated
  *                      as a distributed job) on many-file versions (see
  *                      [[RefTableStats]]); false disables the manifest
  *                      read entirely.
  *
  * Write-side layout options (ignored by reads; see [[RefTableWrites]]):
  *  - `clusterBy`       comma-separated columns — published versions are
  *                      range-clustered on them (tight per-file bounds for
  *                      the skipping manifest);
  *  - `zorderBy`        comma-separated numeric/date/timestamp columns —
  *                      versions are Morton-clustered so selective filters
  *                      on ANY of them skip files; exclusive with
  *                      `clusterBy`, and neither combines with
  *                      `partitionColumns`;
  *  - `clusterFiles`    (default 16) target file count for either layout;
  *  - `bucketBy`        comma-separated columns — published versions are
  *                      HASH-bucketed on them into `bucketCount` files
  *                      ([[Layout.Bucketed]]): keyed
  *                      upsert/MERGE rewrite only the source's buckets
  *                      even for scattered point keys. Exclusive with
  *                      `clusterBy`/`zorderBy`/`partitionColumns`.
  *                      Appends re-publish the union to keep the layout
  *                      (same O(table) trade as `clusterBy`);
  *  - `bucketCount`     (default 16) bucket/file count for `bucketBy`;
  *  - `categoricalStats` comma-separated STRING columns — after publish,
  *                      the manifest is augmented with exact per-file
  *                      value sets for them;
  *  - `bloomStats`      comma-separated integral/string columns — after
  *                      publish, the manifest gains per-file Bloom
  *                      filters so point lookups (`=`, `IN`) skip files
  *                      that provably lack the value (the
  *                      high-cardinality complement of
  *                      `categoricalStats`);
  *  - `keepVersions`    (default 3, minimum 2) versions retained after
  *                      each publish — raise it on roots with many
  *                      concurrent writers or long-pinned readers;
  *  - `deleteMode`      `cow` (default) rewrites may-match files on SQL
  *                      DELETE; `mergeOnRead` commits position sidecars
  *                      instead ([[DeletionVectors]]) — O(deleted rows)
  *                      per delete, readers subtract, compact
  *                      materializes;
  *  - `updateMode`      same switch for SQL UPDATE (`mergeOnRead` =
  *                      old positions to sidecars + new images staged,
  *                      O(matched rows) per update — the Iceberg
  *                      write.update.mode split);
  *  - `mergeMode`       same switch for SQL MERGE INTO (clause-hit rows
  *                      die by position, update images + inserts stage
  *                      as one file — the Iceberg write.merge.mode
  *                      split). Under `updateMode` and `mergeMode`
  *                      alike, a SET on a partition column moves the
  *                      row: its new image stages under the new
  *                      partition;
  *  - `hiddenPartitions` comma-separated partition TRANSFORMS
  *                      (`days(ts)`, `bucket(16, user_id)`,
  *                      `truncate(4, name)` — [[RefTableTransforms]]):
  *                      the layout lives under derived directories while
  *                      the source column stays in the files, and plain
  *                      predicates on the source column prune the
  *                      listing. INSERT OVERWRITE and compaction keep the
  *                      layout; appends land flat. Mutually exclusive with
  *                      `partitionColumns` and the global layouts
  *                      (`clusterBy`/`zorderBy`/`bucketBy`).
  *  - `expect.<name>`   row-level expectation: a SQL predicate every
  *                      written row must satisfy (NULL outcomes violate),
  *                      enforced by EVERY write surface — batch INSERT,
  *                      mutations, and the DSv2 streaming write's
  *                      executor loop (codegen'd predicate). With
  *                      `onViolation` = `fail` (default) a violating
  *                      write/epoch is refused whole, naming the rule
  *                      (write-audit-publish: nothing lands); `drop`
  *                      skips-and-counts violating rows (the DLT
  *                      expect_or_drop shape; counts are reported per
  *                      epoch); `quarantine` routes them to the sibling
  *                      versioned table `<path>__quarantine` (declared
  *                      schema + `_violated` rule names, its own
  *                      replay-deduped txn markers — quarantine commits
  *                      BEFORE the main epoch, so a crash can replay but
  *                      never silently lose a reject). Validated at
  *                      analysis time like `filter`.
  *  - `autoCompact`     (default false) streaming writes only: after a
  *                      committed epoch, compact the table when the
  *                      current version exceeds `autoCompactFiles`
  *                      (default 64) small files — streaming appends
  *                      accrete one file per task per epoch, and this
  *                      caps the debt without an external maintenance
  *                      job. Best-effort: a maintenance conflict defers
  *                      to the next epoch, never fails the stream.
  */
final case class RefTableOptions(
    path: String,
    schema: StructType,
    rowField: Option[String],
    keyColumn: Option[String],
    refreshMs: Long,
    emitPerTrigger: Boolean,
    genColumn: Option[String],
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    partitionColumns: Seq[String] = Nil,
    version: Option[String] = None,
    allowMissingColumns: Boolean = false,
    statsPruning: Boolean = true,
    strictSnapshot: Boolean = false,
    filterSql: Option[String] = None,
    clusterBy: Seq[String] = Nil,
    zorderBy: Seq[String] = Nil,
    clusterFiles: Int = 16,
    categoricalStats: Seq[String] = Nil,
    keepVersions: Int = 3,
    bloomStats: Seq[String] = Nil,
    bucketBy: Seq[String] = Nil,
    bucketCount: Int = 16,
    groupByPartition: Boolean = false,
    deleteMode: String = "cow",
    updateMode: String = "cow",
    hiddenPartitions: Seq[String] = Nil,
    mergeMode: String = "cow",
    changefeed: Boolean = false,
    keyColumns: Seq[String] = Nil,
    columnMapping: Map[String, String] = Map.empty,
    autoCompact: Boolean = false,
    autoCompactFiles: Int = 64,
    changefeedFrom: String = "earliest",
    expectations: Seq[(String, String)] = Nil,
    onViolation: String = "fail",
    ndvStats: Seq[String] = Nil,
    retainForMs: Option[Long] = None,
    generatedColumns: Seq[(String, String)] = Nil) {

  /** Parsed hidden-partition transforms (validated at option parse). */
  lazy val hiddenTransforms: Seq[RefTableTransforms.Transform] =
    hiddenPartitions.map(spec => RefTableTransforms.parse(schema, spec)
      .fold(m => throw new IllegalArgumentException(m), identity))

  /** Transform whose SOURCE column is `field`, if any. */
  def transformFor(field: String): Option[RefTableTransforms.Transform] =
    hiddenTransforms.find(_.source == field)

  /** Physical directory nesting: identity partition columns plus hidden
    * transform directories (mutually exclusive today, so at most one of
    * the two contributes).
    */
  def physicalNesting: Seq[String] =
    partitionColumns ++ hiddenTransforms.map(_.dirName)

  /** Output schema as seen by Spark: declared schema, plus `change_type`
    * under the changefeed read mode, plus the optional gen column.
    */
  def outputSchema: StructType = {
    val base =
      if (changefeed) StructType(schema.fields :+ StructField("change_type", StringType, nullable = false))
      else schema
    genColumn.fold(base)(g => StructType(base.fields :+ StructField(g, LongType, nullable = false)))
  }

  /** Underlying storage column for an output field: the rowField alias
    * resolves to the key column; renamed columns resolve through the
    * descriptor's `columnMapping` (logical name → stable physical name, so
    * ALTER TABLE RENAME COLUMN is a descriptor-only commit and files keep
    * their original column names — the Delta/Iceberg column-mapping
    * answer); everything else is identity.
    */
  def storageColumn(field: String): String =
    if (rowField.contains(field)) keyColumn.get
    else columnMapping.getOrElse(field, field)

  /** The write layout the layout options declare, in storage column names
    * (layout options name OUTPUT fields; written payloads carry storage
    * names). Validation admits at most one layout option.
    */
  def layout: Layout =
    if (zorderBy.nonEmpty) Layout.ZOrdered(zorderBy.map(storageColumn))(clusterFiles)
    else if (clusterBy.nonEmpty) Layout.Clustered(clusterBy.map(storageColumn))(clusterFiles)
    else if (bucketBy.nonEmpty) Layout.Bucketed(bucketBy.map(storageColumn), bucketCount)
    else if (hiddenPartitions.nonEmpty)
      Layout.Hidden(hiddenPartitions.map(RefTableTransforms.renameSource(_, storageColumn)))
    else if (partitionColumns.nonEmpty) Layout.Partitioned(partitionColumns)
    else Layout.Flat

  /** True for a field decoded from the directory path, not file content. */
  def isPartitionCol(field: String): Boolean = partitionColumns.contains(field)

  /** The refresh generation at `nowMs`: floor(now / refreshInterval), and
    * 0 without a refresh interval — the one refresh rule of streams, batch
    * scans and pushed-aggregate scans.
    */
  def generationAt(nowMs: Long): Long = if (refreshMs <= 0) 0L else nowMs / refreshMs
}

/** Batched validation failure with STRUCTURED attribution: `failures` pairs
  * each message with the offending option name, so an integrating tool (a
  * pipeline UI, a catalog form) can surface every failure on the field that
  * caused it — the contract the reference exposes through
  * `FailureCollector.withConfigProperty`
  * (TableStreamingSourceConfig.java:116-143). The exception text stays the
  * batched human-readable form, and the class remains an
  * IllegalArgumentException so existing handlers keep working.
  */
final class RefTableValidationException(val failures: Seq[(String, String)])
  extends IllegalArgumentException(
    "Invalid reftable options:\n  " + failures.map(_._2).mkString("\n  "))

object RefTableOptions {
  /** The clock [[generationAt]] reads outside tests. */
  val wallClock: () => Long = () => System.currentTimeMillis()

  def from(options: CaseInsensitiveStringMap): RefTableOptions = {
    // every failure carries the OFFENDING OPTION as a structured tag —
    // the Spark-side analogue of the reference FailureCollector's
    // `.withConfigProperty(...)` attribution
    // (TableStreamingSourceConfig.java:116-143): an integrating tool can
    // route each message to the field that caused it, while the thrown
    // text stays the batched human-readable form
    val errs = scala.collection.mutable.ListBuffer.empty[(String, String)]
    def err(property: String, message: String): Unit = errs += ((property, message))

    val path0 = Option(options.get("path")).filter(_.nonEmpty)
    if (path0.isEmpty) err("path", "Required option 'path' is missing")
    // `branch '<name>'`: every read, write and streaming surface targets
    // the named writable branch (an independent nested versioned root,
    // [[VersionedTable.createBranch]]) instead of main — the Iceberg
    // branch-write shape as one option. Resolution is a pure path rewrite;
    // a never-created branch fails at table resolution, naming the remedy.
    val branch = Option(options.get("branch")).filter(_.nonEmpty)
    branch.foreach { b =>
      if (!b.matches("^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$"))
        err("branch", s"Invalid branch name '$b' (allowed: letters, digits, " +
          "'.', '_', '-'; must start alphanumeric; max 128 chars)")
    }
    val path = (path0, branch) match {
      case (Some(p), Some(b)) if b.matches("^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$") =>
        Some(VersionedTable.branchRoot(p, b))
      case _ => path0
    }

    val schemaStr = Option(options.get("schema")).filter(_.nonEmpty)
    val schema: Option[StructType] = schemaStr match {
      case None => err("schema", "Required option 'schema' is missing (the source does not infer schemas)"); None
      case Some(s) =>
        try Some(SchemaJson.parse(s))
        catch { case NonFatal(e) => err("schema", s"Invalid 'schema': ${e.getMessage}"); None }
    }

    // FAIL-FAST TYPE SURFACE (the same contract as every other option):
    // a declared type the scan decoder (RefTableColumnarReader) cannot
    // decode must refuse at analysis time, not throw from an executor
    // mid-scan. This is the one list of decodable types: the flat
    // primitives, plus single-level arrays of
    // float/double/int/long/string/boolean/binary — the VECTOR /
    // token-list column classes, decoded through Spark's nested-column
    // vectorized reader. Deeper nesting: pack to BINARY (graft.functions
    // PackVector) or flatten.
    def decodable(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | DoubleType | FloatType | BooleanType |
           StringType | BinaryType | TimestampType | DateType |
           ShortType | ByteType => true
      case _: DecimalType => true
      case ArrayType(et, _) => et match {
        case FloatType | DoubleType | IntegerType | LongType |
             StringType | BooleanType | BinaryType => true
        case _ => false
      }
      case _ => false
    }
    for (st <- schema; f <- st.fields; if !decodable(f.dataType))
      err("schema", s"Field '${f.name}' declares type ${f.dataType.simpleString}, which the " +
        "source cannot decode: supported are flat primitives and single-level " +
        "array<float|double|int|long|string|boolean|binary> (vector/token columns); " +
        "pack deeper structures to BINARY (PackVector) or flatten them")

    val rowField = Option(options.get("rowField")).filter(_.nonEmpty)
    val keyColumn = Option(options.get("keyColumn")).filter(_.nonEmpty)
    (rowField, schema) match {
      case (Some(rf), Some(st)) =>
        st.fields.find(_.name == rf) match {
          case None =>
            err("rowField", s"rowField '$rf' must be a field in the schema")
          case Some(f) if f.nullable =>
            // reference: TableStreamingSourceConfig.java:138-142
            err("rowField", s"rowField '$rf' must not be nullable")
          case _ => ()
        }
        if (keyColumn.isEmpty) err("keyColumn", "Option 'keyColumn' is required when 'rowField' is set")
      case _ => ()
    }

    val refreshMs =
      try Durations.parse(Option(options.get("refreshInterval")).getOrElse("1h"))
      catch { case NonFatal(e) => err("refreshInterval", s"Invalid 'refreshInterval': ${e.getMessage}"); 0L }

    val emitPerTrigger = Option(options.get("emitMode")).getOrElse("refresh") match {
      case "refresh" => false
      case "trigger" => true
      case other => err("emitMode", s"Invalid 'emitMode' '$other': must be 'refresh' or 'trigger'"); false
    }

    val genColumn = Option(options.get("genColumn")).filter(_.nonEmpty)
    for (g <- genColumn; st <- schema; if st.fieldNames.contains(g))
      err("genColumn", s"genColumn '$g' collides with a schema field")

    val partitionColumns: Seq[String] = Option(options.get("partitionColumns"))
      .filter(_.nonEmpty).toSeq.flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    if (partitionColumns.distinct.size != partitionColumns.size)
      err("partitionColumns", "Option 'partitionColumns' lists a column twice")
    for (pc <- partitionColumns; st <- schema) {
      st.fields.find(_.name == pc) match {
        case None => err("partitionColumns", s"partition column '$pc' must be a field in the schema")
        case Some(f) if !RefTablePartitioning.supportedType(f.dataType) =>
          err("partitionColumns", s"partition column '$pc' has unsupported type ${f.dataType.simpleString}")
        case _ => ()
      }
      if (rowField.contains(pc))
        err("rowField", s"rowField '$pc' cannot also be a partition column (the key lives in file content)")
    }

    val maxFiles = Option(options.get("maxFilesPerTrigger")).filter(_.nonEmpty).flatMap { s =>
      try {
        val n = s.trim.toInt
        if (n <= 0) { err("maxFilesPerTrigger", s"Invalid 'maxFilesPerTrigger' '$s': must be a positive integer"); None }
        else Some(n)
      } catch { case _: NumberFormatException =>
        err("maxFilesPerTrigger", s"Invalid 'maxFilesPerTrigger' '$s': must be a positive integer"); None }
    }
    val maxBytes = Option(options.get("maxBytesPerTrigger")).filter(_.nonEmpty).flatMap { s =>
      try {
        val n = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s.trim)
        if (n <= 0) { err("maxBytesPerTrigger", s"Invalid 'maxBytesPerTrigger' '$s': must be a positive byte count"); None }
        else Some(n)
      } catch { case NonFatal(_) =>
        err("maxBytesPerTrigger", s"Invalid 'maxBytesPerTrigger' '$s': must be a positive byte count (e.g. '64MB')"); None }
    }

    val version = Option(options.get("version")).filter(_.nonEmpty)

    def boolOpt(name: String, default: Boolean): Boolean =
      Option(options.get(name)).filter(_.nonEmpty) match {
        case None => default
        case Some(s) if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") => s.toBoolean
        case Some(other) =>
          err(name, s"Invalid '$name' '$other': must be true or false"); default
      }
    val allowMissing = boolOpt("allowMissingColumns", default = false)
    val statsPruning = boolOpt("statsPruning", default = true)
    val strictSnapshot = boolOpt("strictSnapshot", default = false)
    val groupByPartition = boolOpt("groupByPartition", default = false)
    if (groupByPartition && partitionColumns.isEmpty)
      err("groupByPartition", "'groupByPartition' requires 'partitionColumns' (it groups the scan " +
        "into one input partition per partition value for storage-partitioned joins)")

    // syntax + attribute validation only (no SparkSession needed here);
    // the full resolve/translate happens at scan construction
    // (RefTableFilters.declared), where pruning is conservative anyway
    val filterSql = Option(options.get("filter")).filter(_.nonEmpty)
    for (f <- filterSql; st <- schema) {
      try {
        val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(f)
        val known = (st.fieldNames ++ genColumn).map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val unknown = e.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if !known.contains(a.name.toLowerCase(java.util.Locale.ROOT)) => a.name
        }
        if (unknown.nonEmpty)
          err("filter", s"Option 'filter' references unknown column(s): ${unknown.distinct.mkString(", ")}")
      } catch { case NonFatal(e) => err("filter", s"Invalid 'filter': ${e.getMessage}") }
    }
    if (strictSnapshot && (maxFiles.nonEmpty || maxBytes.nonEmpty))
      err("strictSnapshot", "Option 'strictSnapshot' refuses 'maxFilesPerTrigger'/'maxBytesPerTrigger': " +
        "a chunked generation recovered after a driver restart is re-emitted from a fresh " +
        "listing (at-least-once within the abandoned generation); run unchunked when the " +
        "sink demands exact generation determinism")

    def colList(name: String): Seq[String] = Option(options.get(name))
      .filter(_.nonEmpty).toSeq.flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    val clusterBy = colList("clusterBy")
    val zorderBy = colList("zorderBy")
    val bucketBy = colList("bucketBy")
    val categoricalStats = colList("categoricalStats")
    val bloomStats = colList("bloomStats")
    val ndvStats = colList("ndvStats")
    if (Seq(clusterBy, zorderBy, bucketBy).count(_.nonEmpty) > 1)
      err("clusterBy", "Options 'clusterBy', 'zorderBy' and 'bucketBy' are mutually exclusive")
    // per-file stats are computed from the columns a data file holds, and a
    // partition column lives only in its directory names
    Seq("categoricalStats" -> categoricalStats, "bloomStats" -> bloomStats, "ndvStats" -> ndvStats)
      .foreach { case (opt, cols) => cols.filter(partitionColumns.contains).foreach(c =>
        err(opt, s"$opt column '$c' is a partition column: its values live in directory " +
          "names, not in the data files per-file stats are computed from"))
      }
    val bucketCount = Option(options.get("bucketCount")).filter(_.nonEmpty) match {
      case None => 16
      case Some(s) =>
        try {
          val n = s.trim.toInt
          if (n <= 0) { err("bucketCount", s"Invalid 'bucketCount' '$s': must be a positive integer"); 16 }
          else n
        } catch { case _: NumberFormatException =>
          err("bucketCount", s"Invalid 'bucketCount' '$s': must be a positive integer"); 16 }
    }
    for (st <- schema) {
      Seq("clusterBy" -> clusterBy, "zorderBy" -> zorderBy, "bucketBy" -> bucketBy).foreach {
        case (opt, cols) => cols.foreach(c => if (!st.fieldNames.contains(c))
          err(opt, s"layout column '$c' must be a field in the schema"))
      }
      zorderBy.foreach(c => st.fields.find(_.name == c).foreach { f =>
        f.dataType match {
          case _: org.apache.spark.sql.types.NumericType | DateType | TimestampType => ()
          case other => err("zorderBy", s"zorderBy column '$c' must be numeric/date/timestamp, " +
            s"got ${other.simpleString}")
        }
      })
      categoricalStats.foreach(c => st.fields.find(_.name == c) match {
        case None => err("categoricalStats", s"categoricalStats column '$c' must be a field in the schema")
        case Some(f) if f.dataType != StringType =>
          err("categoricalStats", s"categoricalStats column '$c' must be STRING (value sets are exact " +
            s"only for strings), got ${f.dataType.simpleString}")
        case _ => ()
      })
      bloomStats.foreach(c => st.fields.find(_.name == c) match {
        case None => err("bloomStats", s"bloomStats column '$c' must be a field in the schema")
        case Some(f) => f.dataType match {
          case ByteType | ShortType | IntegerType | LongType | StringType => ()
          case other => err("bloomStats", s"bloomStats column '$c' must be integral or string " +
            s"(point-lookup types), got ${other.simpleString}")
        }
      })
      // `ndvStats`: per-file mergeable HLL distinct-count sketches in the
      // stats manifest — the CBO's per-column NDV source (join cardinality
      // and equality-filter selectivity). Any atomic type sketches.
      ndvStats.foreach(c => st.fields.find(_.name == c) match {
        case None => err("ndvStats", s"ndvStats column '$c' must be a field in the schema")
        case Some(f) => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType =>
            err("ndvStats", s"ndvStats column '$c' must be an atomic type, " +
              "got an array (distinct counts over vectors are not a CBO signal)")
          case _ => ()
        }
      })
    }
    val clusterFiles = Option(options.get("clusterFiles")).filter(_.nonEmpty) match {
      case None => 16
      case Some(s) =>
        try { val n = s.trim.toInt; if (n <= 0) { err("clusterFiles", s"Invalid 'clusterFiles' '$s': must be positive"); 16 } else n }
        catch { case _: NumberFormatException => err("clusterFiles", s"Invalid 'clusterFiles' '$s': must be a positive integer"); 16 }
    }
    val keepVersions = Option(options.get("keepVersions")).filter(_.nonEmpty) match {
      case None => 3
      case Some(s) =>
        try {
          val n = s.trim.toInt
          if (n < 2) {
            err("keepVersions", s"Invalid 'keepVersions' '$s': must be >= 2 (retaining only the current " +
              "version would delete the previous one under pinned readers)"); 3
          } else n
        }
        catch { case _: NumberFormatException => err("keepVersions", s"Invalid 'keepVersions' '$s': must be a positive integer"); 3 }
    }

    def modeOpt(name: String): String = Option(options.get(name)).filter(_.nonEmpty) match {
      case None => "cow"
      case Some(s) if Set("cow", "mergeOnRead").contains(s.trim) => s.trim
      case Some(s) =>
        err(name, s"Invalid '$name' '$s': must be 'cow' or 'mergeOnRead'"); "cow"
    }
    val deleteMode = modeOpt("deleteMode")
    val updateMode = modeOpt("updateMode")
    val mergeMode = modeOpt("mergeMode")

    // split on top-level commas only: `bucket(16, user_id)` carries one
    // inside its parentheses
    def splitSpecs(raw: String): Seq[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      val cur = new StringBuilder
      var depth = 0
      raw.foreach {
        case '(' => depth += 1; cur += '('
        case ')' => depth -= 1; cur += ')'
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case c => cur += c
      }
      out += cur.toString
      out.toSeq.map(_.trim).filter(_.nonEmpty)
    }
    val hiddenPartitions = Option(options.get("hiddenPartitions")).filter(_.nonEmpty)
      .map(splitSpecs).getOrElse(Nil)
    schema.foreach { sch =>
      hiddenPartitions.foreach(spec =>
        RefTableTransforms.parse(sch, spec).left.foreach(err("hiddenPartitions", _)))
    }
    if (hiddenPartitions.nonEmpty && partitionColumns.nonEmpty)
      err("hiddenPartitions", "hiddenPartitions and partitionColumns are mutually exclusive " +
        "(a layout is either identity-partitioned or transform-partitioned)")
    // no write keeps a global layout together with partition directories
    if ((clusterBy.nonEmpty || zorderBy.nonEmpty || bucketBy.nonEmpty) &&
        (partitionColumns.nonEmpty || hiddenPartitions.nonEmpty))
      err("clusterBy", "Layout options ('clusterBy'/'zorderBy'/'bucketBy') do not combine with " +
        "'partitionColumns' or 'hiddenPartitions'")

    // changefeed read mode: each micro-batch is the key-level change set
    // between generations instead of the snapshot
    val changefeed = boolOpt("changefeed", default = false)
    val keyColumns = colList("keyColumns")
    if (changefeed) {
      if (keyColumns.isEmpty)
        err("changefeed", "'changefeed' requires 'keyColumns' (comma-separated key columns " +
          "for insert/update/delete classification)")
      for (k <- keyColumns; st <- schema; if !st.fieldNames.contains(k))
        err("keyColumns", s"keyColumns column '$k' must be a field in the schema")
      for (st <- schema; if st.fieldNames.contains("change_type"))
        err("changefeed", "'changefeed' reserves the output column name 'change_type'; " +
          "rename the schema field")
      if (genColumn.contains("change_type"))
        err("changefeed", "'changefeed' reserves the column name 'change_type' (genColumn collides)")
      if (emitPerTrigger)
        err("changefeed", "'changefeed' requires emitMode=refresh: re-emitting a delta every " +
          "trigger would duplicate changes")
      if (maxFiles.nonEmpty || maxBytes.nonEmpty)
        err("changefeed", "'changefeed' does not combine with maxFilesPerTrigger/maxBytesPerTrigger: " +
          "a generation's delta is one unit")
      if (version.nonEmpty)
        err("changefeed", "'changefeed' cannot read a pinned 'version': a pinned snapshot never changes")
    } else if (keyColumns.nonEmpty) {
      // standalone keyColumns = the table's DECLARED merge key (consumed by
      // the catalog's `t$changefeed` suffix); validate membership up front
      for (k <- keyColumns; st <- schema; if !st.fieldNames.contains(k))
        err("keyColumns", s"keyColumns column '$k' must be a field in the schema")
    }

    // column mapping (logical -> physical storage name), the descriptor-only
    // RENAME COLUMN indirection; format "logical:physical,logical2:physical2"
    val columnMapping: Map[String, String] =
      Option(options.get("columnMapping")).filter(_.nonEmpty).map {
        _.split(',').toSeq.map(_.trim).filter(_.nonEmpty).flatMap { e =>
          val i = e.indexOf(':')
          if (i <= 0 || i == e.length - 1) {
            err("columnMapping", s"Invalid 'columnMapping' entry '$e': expected 'logical:physical'")
            None
          } else Some(e.substring(0, i).trim -> e.substring(i + 1).trim)
        }.toMap
      }.getOrElse(Map.empty)
    for ((l, _) <- columnMapping; st <- schema) {
      if (!st.fieldNames.contains(l))
        err("columnMapping", s"columnMapping key '$l' must be a field in the schema")
      if (rowField.contains(l))
        err("columnMapping", s"columnMapping cannot remap rowField '$l' (keyColumn already names its storage)")
    }
    for (pc <- partitionColumns; if columnMapping.contains(pc))
      err("columnMapping", s"columnMapping cannot remap partition column '$pc': directory names carry " +
        "the physical name, so renaming a partition column requires a rewrite")
    for (st <- schema) {
      val storages = st.fieldNames.map(n =>
        if (rowField.contains(n)) keyColumn.getOrElse(n) else columnMapping.getOrElse(n, n))
      if (storages.distinct.length != storages.length)
        err("columnMapping", "columnMapping produces duplicate storage columns " +
          s"(${storages.mkString(", ")})")
    }

    // changefeed starting position: 'earliest' (default) bootstraps the
    // current snapshot as inserts; 'latest' starts with an empty delta and
    // streams changes from the NEXT generation; a version dir name streams
    // the delta FROM that retained version (Delta CDF's startingVersion)
    val changefeedFrom = Option(options.get("changefeedFrom")).filter(_.nonEmpty) match {
      case None => "earliest"
      case Some(v) =>
        val t = v.trim
        if (!changefeed)
          err("changefeedFrom", "'changefeedFrom' requires 'changefeed' (it positions the delta stream)")
        if (t != "earliest" && t != "latest" && !t.matches("v\\d{19}_[0-9a-f]{8}") &&
            !t.matches("tag:[A-Za-z0-9][A-Za-z0-9._-]*") && !t.startsWith("ts:"))
          err("changefeedFrom", s"Invalid 'changefeedFrom' '$t': must be 'earliest', 'latest', " +
            "a version directory name, 'tag:<name>', or 'ts:<timestamp>'")
        t
    }

    // streaming-write maintenance: opt-in post-commit compaction once the
    // current version's file count exceeds the threshold (streaming
    // appends accrete one file per task per epoch)
    val autoCompact = boolOpt("autoCompact", default = false)
    val autoCompactFiles = Option(options.get("autoCompactFiles")).filter(_.nonEmpty) match {
      case None => 64
      case Some(v) =>
        try {
          val n = v.trim.toInt
          if (n <= 0) { err("autoCompactFiles", s"Invalid 'autoCompactFiles' '$v': must be a positive integer"); 64 }
          else n
        } catch { case _: NumberFormatException =>
          err("autoCompactFiles", s"Invalid 'autoCompactFiles' '$v': must be a positive integer"); 64 }
    }

    // row-level expectations (`expect.<name>` = SQL predicate): every
    // write surface enforces them — the DLT expect / CHECK-constraint
    // shape. Predicates are validated here like `filter`: syntax + known
    // columns, analysis time
    val expectations: Seq[(String, String)] = {
      import scala.jdk.CollectionConverters._
      options.asCaseSensitiveMap().asScala.toSeq
        .filter(_._1.toLowerCase(java.util.Locale.ROOT).startsWith("expect."))
        .map { case (k, v) => k.substring("expect.".length) -> v }
        .sortBy(_._1)
    }
    for ((rname, pred) <- expectations) {
      if (rname.isEmpty) err("expect", "Empty expectation name: use expect.<name>")
      if (pred == null || pred.trim.isEmpty)
        err(s"expect.$rname", s"Expectation '$rname' has an empty predicate")
      else try {
        val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(pred)
        for (st <- schema) {
          val known = st.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
          val unknown = e.collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                if !known.contains(a.name.toLowerCase(java.util.Locale.ROOT)) => a.name
          }
          if (unknown.nonEmpty)
            err(s"expect.$rname",
              s"Expectation '$rname' references unknown column(s): ${unknown.distinct.mkString(", ")}")
        }
      } catch { case NonFatal(e) =>
        err(s"expect.$rname", s"Invalid expectation '$rname': ${e.getMessage}") }
    }
    val onViolation = Option(options.get("onViolation")).filter(_.nonEmpty) match {
      case None => "fail"
      case Some(v) if Set("fail", "drop", "quarantine").contains(v.trim) => v.trim
      case Some(v) =>
        err("onViolation",
          s"Invalid 'onViolation' '$v': must be 'fail', 'drop' or 'quarantine'"); "fail"
    }
    if (onViolation == "quarantine" && schema.exists(_.fieldNames.contains("_violated")))
      err("onViolation", "'quarantine' reserves the column name '_violated' for the " +
        "quarantine table's rule attribution; rename the schema field")
    if (onViolation == "drop" && expectations.isEmpty)
      err("onViolation", "'onViolation' without any 'expect.<name>' rule has no effect")

    // `columnDefaults`: JSON {"col": {"current": "<sql>", "exists": "<sql>"}}
    // — the catalog persists DEFAULT declarations here (StructType DDL
    // drops field metadata); [[RefTable.columns]] re-attaches them on the
    // Spark-facing column surface, which is where INSERT resolution reads
    // them. Defaults fill at WRITE time (rows materialize with real
    // values), so the engine's own read/write paths never consult them —
    // validated here so a bad descriptor fails analysis, not resolution.
    Option(options.get("columnDefaults")).filter(_.nonEmpty).foreach { json =>
      try {
        import scala.jdk.CollectionConverters._
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        for (e <- node.properties().asScala; st <- schema;
             if !st.fieldNames.contains(e.getKey))
          err("columnDefaults", s"columnDefaults names unknown column '${e.getKey}'")
      } catch {
        case NonFatal(e) =>
          err("columnDefaults", s"Invalid 'columnDefaults' JSON: ${e.getMessage}")
      }
    }

    // `retainFor '<duration>'` — TIME-based retention on top of the
    // keepVersions count floor, in the reference's duration grammar
    // (`\d+[dhms]`, TableStreamingSourceConfig's refresh-interval literal):
    // every retention pass keeps versions younger than the window.
    val retainForMs: Option[Long] =
      Option(options.get("retainFor")).filter(_.nonEmpty).flatMap { v =>
        try Some(Durations.parse(v))
        catch { case NonFatal(e) =>
          err("retainFor", s"Invalid 'retainFor': ${e.getMessage}"); None }
      }

    // `columnGenerated`: JSON {"col": "<sql>"} — GENERATED ALWAYS AS
    // columns, computed by every write surface (ANSI ALWAYS semantics:
    // a provided non-null value must equal the computed one). Declared at
    // CREATE; persisted like columnDefaults since DDL drops metadata.
    val generatedColumns: Seq[(String, String)] =
      Option(options.get("columnGenerated")).filter(_.nonEmpty).map { json =>
        try {
          import scala.jdk.CollectionConverters._
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
          node.properties().asScala.map { e =>
            val c = e.getKey
            if (schema.exists(st => !st.fieldNames.contains(c)))
              err("columnGenerated", s"columnGenerated names unknown column '$c'")
            c -> e.getValue.asText()
          }.toSeq.sortBy(_._1)
        } catch {
          case e: RefTableValidationException => throw e
          case NonFatal(e) =>
            err("columnGenerated", s"Invalid 'columnGenerated' JSON: ${e.getMessage}"); Nil
        }
      }.getOrElse(Nil)
    if (generatedColumns.nonEmpty && keyColumns.nonEmpty)
      err("columnGenerated", "generated columns do not combine with 'keyColumns': the " +
        "keyed upsert/CDC surfaces apply caller-provided after-images directly and " +
        "would land stale generated values; compute the column in the feed instead")
    // a generation expression may reference only NON-generated columns
    // (the Delta rule): applyGenerated computes the columns in name order,
    // so a cross-generated reference evaluated before its dependency would
    // read the caller-provided (typically null) value and land silently
    // wrong — and the ALWAYS-mismatch check cannot catch a null input.
    // Refused here rather than topologically ordered: a chain is always
    // expressible by inlining the referenced expression.
    if (generatedColumns.nonEmpty) {
      val genNames = generatedColumns.map(_._1.toLowerCase(java.util.Locale.ROOT)).toSet
      for ((c, sql) <- generatedColumns) {
        try {
          val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
          val genRefs = e.collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                if genNames.contains(a.name.toLowerCase(java.util.Locale.ROOT)) => a.name
          }
          if (genRefs.nonEmpty)
            err("columnGenerated", s"generated column '$c' references generated " +
              s"column(s) ${genRefs.distinct.mkString(", ")}: generation expressions " +
              "may reference only non-generated columns — inline the referenced " +
              "expression instead")
        } catch {
          case e: RefTableValidationException => throw e
          case NonFatal(e) =>
            err("columnGenerated", s"Invalid generation expression for '$c': ${e.getMessage}")
        }
      }
    }

    if (errs.nonEmpty) throw new RefTableValidationException(errs.toList)
    RefTableOptions(path.get, schema.get, rowField, keyColumn, refreshMs, emitPerTrigger, genColumn,
      maxFiles, maxBytes, partitionColumns, version, allowMissing, statsPruning, strictSnapshot,
      filterSql, clusterBy, zorderBy, clusterFiles, categoricalStats, keepVersions, bloomStats,
      bucketBy, bucketCount, groupByPartition, deleteMode, updateMode, hiddenPartitions,
      mergeMode, changefeed, keyColumns, columnMapping, autoCompact, autoCompactFiles,
      changefeedFrom, expectations, onViolation, ndvStats, retainForMs, generatedColumns)
  }
}
