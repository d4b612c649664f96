package graft.sources.reftable

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataTypes, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The SQL surface of the layout-maintenance loop (DSv2 `ProcedureCatalog`,
  * the Iceberg `CALL`-procedure shape):
  *
  * {{{
  *   CALL graft.system.maintain(table => 'corpus.docs')
  *   CALL graft.system.maintain(table => 'corpus.docs', dry_run => true)
  * }}}
  *
  * Returns one row `(action, reason, version)` — `action` is what
  * [[RefTableMaintenance.decide]] chose (`none`/`compact`/`recluster`/
  * `rebucket`), `version` the restoring publish when one ran. `dry_run`
  * reads the signals and reports the decision without executing it, so a
  * scheduler can census a warehouse cheaply and only spend cluster time on
  * tables that need work.
  */
/** Shared shape of the single-row maintenance procedures: bind to self,
  * non-deterministic (they mutate table state), one `LocalScan` result row.
  */
sealed abstract class RefTableProcedure extends UnboundProcedure with BoundProcedure {
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  protected def outputSchema: StructType
  protected def result(values: Any*): JIterator[Scan] = {
    val row = InternalRow(values: _*)
    val desc = name
    Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = outputSchema
      override def description(): String = desc
    }).iterator()
  }
}

final class MaintainProcedure(resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {

  override def name: String = "maintain"

  override def description: String =
    "Reads a versioned table's layout signals and, when degraded past thresholds, " +
      "runs the restoring publish (compact / recluster / rebucket)"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType)
      .comment("table reference inside this catalog, e.g. 'namespace.table'").build(),
    ProcedureParameter.in("dry_run", DataTypes.BooleanType).defaultValue("false")
      .comment("report the decision without executing it").build(),
    ProcedureParameter.in("target_file_bytes", DataTypes.LongType)
      .defaultValue((128L * 1024 * 1024).toString).build(),
    ProcedureParameter.in("max_small_files", DataTypes.IntegerType).defaultValue("64").build(),
    ProcedureParameter.in("max_read_amp", DataTypes.DoubleType).defaultValue("1.5").build(),
    ProcedureParameter.in("keep_versions", DataTypes.IntegerType).defaultValue("3").build())

  protected val outputSchema =
    StructType.fromDDL("action STRING, reason STRING, version STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val tableRef = input.getString(0)
    val dryRun = input.getBoolean(1)
    val targetFileBytes = input.getLong(2)
    val maxSmallFiles = input.getInt(3)
    val maxReadAmp = input.getDouble(4)
    val keepVersions = input.getInt(5)
    val (root, partitionColumns) = resolveTarget(tableRef)
    val decision =
      if (dryRun)
        RefTableMaintenance.decide(
          RefTableMaintenance.signals(root), targetFileBytes, maxSmallFiles, maxReadAmp)
      else
        RefTableMaintenance.maintain(SparkSession.active, root,
          targetFileBytes, maxSmallFiles, maxReadAmp, keepVersions, partitionColumns)
    result(
      UTF8String.fromString(decision.action),
      UTF8String.fromString(decision.reason),
      decision.version.map(UTF8String.fromString).orNull)
  }
}

/** `CALL cat.system.maintain_all()` — the warehouse-wide maintenance
  * census: every table's signals read (metadata only — commit log, stats
  * manifest, markers; no data pages), one row per table with the decision.
  * `dry_run` defaults to TRUE here (the census is the point; a scheduler
  * reads it and spends cluster time only where action != 'none'), pass
  * `dry_run => false` to also execute each restoring publish.
  */
final class MaintainAllProcedure(
    listAll: () => Seq[String],
    resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {
  override def name: String = "maintain_all"
  override def description: String =
    "Reads every table's layout signals; reports (and with dry_run => false, executes) " +
      "the maintenance decision per table"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("dry_run", DataTypes.BooleanType).defaultValue("true").build(),
    ProcedureParameter.in("target_file_bytes", DataTypes.LongType)
      .defaultValue((128L * 1024 * 1024).toString).build(),
    ProcedureParameter.in("max_small_files", DataTypes.IntegerType).defaultValue("64").build(),
    ProcedureParameter.in("max_read_amp", DataTypes.DoubleType).defaultValue("1.5").build(),
    ProcedureParameter.in("keep_versions", DataTypes.IntegerType).defaultValue("3").build())

  protected val outputSchema =
    StructType.fromDDL("table STRING, action STRING, reason STRING, version STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val dryRun = input.getBoolean(0)
    val targetFileBytes = input.getLong(1)
    val maxSmallFiles = input.getInt(2)
    val maxReadAmp = input.getDouble(3)
    val keepVersions = input.getInt(4)
    val resultRows = listAll().sorted.map { ref =>
      val (root, partitionColumns) = resolveTarget(ref)
      val decision =
        try {
          if (dryRun)
            RefTableMaintenance.decide(
              RefTableMaintenance.signals(root), targetFileBytes, maxSmallFiles, maxReadAmp)
          else
            RefTableMaintenance.maintain(SparkSession.active, root,
              targetFileBytes, maxSmallFiles, maxReadAmp, keepVersions, partitionColumns)
        } catch {
          // a table created but never written has no version to read;
          // the census reports it instead of aborting the sweep
          case e: IllegalArgumentException =>
            RefTableMaintenance.Decision("none", s"skipped: ${e.getMessage}")
        }
      InternalRow(
        UTF8String.fromString(ref),
        UTF8String.fromString(decision.action),
        UTF8String.fromString(decision.reason),
        decision.version.map(UTF8String.fromString).orNull)
    }.toArray
    val schema = outputSchema
    Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = resultRows
      override def readSchema(): StructType = schema
      override def description(): String = "maintain_all"
    }).iterator()
  }
}

/** `CALL cat.system.compact(table => 'ns.t')` — the unconditional
  * small-file compaction publish ([[VersionedTable.compact]]); use
  * `maintain` for the signal-driven variant.
  */
final class CompactProcedure(resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {
  override def name: String = "compact"
  override def description: String =
    "Compacts the current version into ~target_file_bytes files as a new version"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType).build(),
    ProcedureParameter.in("target_file_bytes", DataTypes.LongType)
      .defaultValue((128L * 1024 * 1024).toString).build(),
    ProcedureParameter.in("keep_versions", DataTypes.IntegerType).defaultValue("3").build())

  protected val outputSchema = StructType.fromDDL("version STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val (root, partitionColumns) = resolveTarget(input.getString(0))
    val v = VersionedTable.compact(SparkSession.active, root,
      input.getLong(1), input.getInt(2), partitionColumns)
    result(UTF8String.fromString(v))
  }
}

/** `CALL cat.system.vacuum(table => 'ns.t', keep_versions => 3)` — explicit
  * retention pass dropping versions beyond `keep_versions` (never the
  * current pointer's target); returns what was removed.
  */
final class VacuumProcedure(resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {
  override def name: String = "vacuum"
  override def description: String =
    "Removes retained versions beyond keep_versions; returns the removed directories"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType).build(),
    ProcedureParameter.in("keep_versions", DataTypes.IntegerType).defaultValue("3").build(),
    ProcedureParameter.in("older_than_ms", DataTypes.LongType).defaultValue("0")
      .comment("when > 0: time-based retention — drop committed states older than this " +
        "epoch-millis cutoff (keep_versions then acts as the minimum kept)").build())

  protected val outputSchema = StructType.fromDDL("removed INT, versions STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val (root, _) = resolveTarget(input.getString(0))
    val cutoff = input.getLong(2)
    val removed =
      if (cutoff > 0L) VersionedTable.vacuumOlderThan(root, cutoff, input.getInt(1))
      else VersionedTable.vacuum(root, input.getInt(1))
    result(Int.box(removed.size), UTF8String.fromString(removed.mkString(",")))
  }
}

/** `CALL cat.system.restore(table => 'ns.t', version => 'v...')` — rollback:
  * the named earlier version's exact content becomes the new current
  * version via a metadata-only commit (a `_FILES.json` referencing that
  * version wholesale — O(1) manifest entries, 0 data bytes, any table
  * size). History keeps the superseded versions; pinned readers are
  * untouched ([[VersionedTable.restore]]).
  */
final class RestoreProcedure(resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {
  override def name: String = "restore"
  override def description: String =
    "Re-publishes an earlier committed version's content as the new current version " +
      "(metadata-only rollback; history preserved)"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType).build(),
    ProcedureParameter.in("version", DataTypes.StringType)
      .comment("committed version directory to restore to (see $history)").build(),
    ProcedureParameter.in("keep_versions", DataTypes.IntegerType).defaultValue("3").build())

  protected val outputSchema = StructType.fromDDL("version STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val (root, partitionColumns) = resolveTarget(input.getString(0))
    val v = VersionedTable.restore(
      root, input.getString(1), input.getInt(2), partitionColumns)
    result(UTF8String.fromString(v))
  }
}

/** `CALL cat.system.promote(staging => 'ns.stg', target => 'ns.t')` — the
  * publish half of write-audit-publish: the staging table's current
  * content becomes the target's next version by hard-linked zero-copy,
  * CAS-guarded when `expected_base` names the fork version
  * ([[VersionedTable.promote]]).
  */
final class PromoteProcedure(
    resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {
  override def name: String = "promote"
  override def description: String =
    "Publishes the staging table's current content as the target's next version " +
      "(write-audit-publish; zero-copy, CAS on expected_base)"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("staging", DataTypes.StringType).build(),
    ProcedureParameter.in("target", DataTypes.StringType).build(),
    ProcedureParameter.in("expected_base", DataTypes.StringType).defaultValue("''")
      .comment("target version the staging was forked from; the promote refuses if the " +
        "target advanced past it (default: last-wins)").build(),
    ProcedureParameter.in("keep_versions", DataTypes.IntegerType).defaultValue("3").build())

  protected val outputSchema = StructType.fromDDL("version STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val (stagingRoot, partitionColumns) = resolveTarget(input.getString(0))
    val (targetRoot, _) = resolveTarget(input.getString(1))
    val base = Option(input.getString(2)).filter(_.nonEmpty)
    val v = VersionedTable.promote(
      stagingRoot, targetRoot, base, partitionColumns, input.getInt(3))
    result(UTF8String.fromString(v))
  }
}

/** `CALL cat.system.expect(table => 'ns.t', rules => 'nonneg:v >= 0; haskey:id IS NOT NULL')`
  * — the AUDIT half of write-audit-publish on the SQL surface: one row
  * per declared rule with its violation count over the table's current
  * content (ONE scan for any number of rules —
  * [[graft.operators.Expectations.check]]; deletion vectors subtracted).
  * Rules are `name:predicate` pairs separated by `;` — the first `:`
  * splits, so predicates may contain colons.
  */
final class ExpectProcedure(resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {
  override def name: String = "expect"
  override def description: String =
    "Audits the table's current content against declared row-level expectations; " +
      "one row per rule with its violation count (one scan total)"
  override def isDeterministic: Boolean = false // reads live table state

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType).build(),
    ProcedureParameter.in("rules", DataTypes.StringType)
      .comment("semicolon-separated name:predicate pairs, e.g. 'nonneg:v >= 0'").build())

  protected val outputSchema =
    StructType.fromDDL("rule STRING, violations BIGINT, total BIGINT")

  override def call(input: InternalRow): JIterator[Scan] = {
    val (root, partitionColumns) = resolveTarget(input.getString(0))
    val rules = input.getString(1).split(";").toSeq.map(_.trim).filter(_.nonEmpty)
      .map { r =>
        val i = r.indexOf(':')
        require(i > 0, s"expect: rule '$r' must be name:predicate")
        (r.substring(0, i).trim, r.substring(i + 1).trim)
      }
    val spark = SparkSession.active
    val dir = VersionedTable.resolve(root).getOrElse(
      throw new IllegalArgumentException(s"$root has no published version to audit"))
    val df = VersionedTable.readVersion(spark, dir, partitionColumns)
    val resultRows = graft.operators.Expectations.check(df, rules)
      .collect() // bounded: one row per declared rule
      .map(r => InternalRow(
        UTF8String.fromString(r.getString(0)), r.getLong(1), r.getLong(2)))
    val schema = outputSchema
    Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = resultRows
      override def readSchema(): StructType = schema
      override def description(): String = "expect"
    }).iterator()
  }
}

/** `CALL cat.system.clone(source => 'ns.t', target => 'ns.t2')` — zero-copy
  * shallow clone: the target table is created with the source's exact
  * descriptor and its first version hard-links the source's current (or
  * `version`-pinned) file listing ([[VersionedTable.cloneTo]]): O(files)
  * metadata, 0 data bytes on link-capable stores, and full isolation —
  * either side can mutate or vacuum without affecting the other.
  */
final class CloneProcedure(clone: (String, String, Option[String]) => String)
    extends RefTableProcedure {
  override def name: String = "clone"
  override def description: String =
    "Creates `target` as a zero-copy clone of `source`'s current (or pinned) version: " +
      "descriptor copied, data files hard-linked where the store supports it"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("source", DataTypes.StringType)
      .comment("existing table reference inside this catalog, e.g. 'ns.t'").build(),
    ProcedureParameter.in("target", DataTypes.StringType)
      .comment("table to create as the clone; must not exist").build(),
    ProcedureParameter.in("version", DataTypes.StringType).defaultValue("''")
      .comment("source version directory to pin (default: current)").build())

  protected val outputSchema = StructType.fromDDL("version STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val version = Option(input.getString(2)).filter(_.nonEmpty)
    val v = clone(input.getString(0), input.getString(1), version)
    result(UTF8String.fromString(v))
  }
}

/** `CALL cat.system.analyze(table => 'ns.t', columns => 'a,b')` — compute
  * per-file NDV (HLL) sketches for the named columns into the CURRENT
  * version's stats manifest, the ANALYZE TABLE analogue: tables written
  * before `ndvStats` was declared get CBO column statistics without a
  * rewrite. One aggregation pass over the named columns.
  */
final class AnalyzeProcedure(resolveOpts: String => RefTableOptions)
    extends RefTableProcedure {
  override def name: String = "analyze"
  override def description: String =
    "Computes per-file NDV (HLL) sketches for the named columns into the current " +
      "version's stats manifest — CBO column statistics without a rewrite"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType).build(),
    ProcedureParameter.in("columns", DataTypes.StringType)
      .comment("comma-separated column names (declared, atomic types)").build())

  protected val outputSchema = StructType.fromDDL("version STRING, columns STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val opts = resolveOpts(input.getString(0))
    val cols = input.getString(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(cols.nonEmpty, "analyze: 'columns' names at least one column")
    cols.foreach { c =>
      require(opts.schema.fieldNames.contains(c),
        s"analyze: unknown column '$c' (declared: ${opts.schema.fieldNames.mkString(", ")})")
      require(!opts.schema.fields.find(_.name == c).get.dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType],
        s"analyze: column '$c' is an array — NDV sketches cover atomic types")
      require(!opts.partitionColumns.contains(c),
        s"analyze: column '$c' is a partition column — its values live in directory names, " +
          "not in the data files NDV sketches are computed from")
    }
    val conf = HadoopConf()
    val resolved = SnapshotFiles.resolveDir(opts.path, None, conf)
    RefTableStats.augmentNdv(SparkSession.active, resolved,
      cols.map(opts.storageColumn), conf)
    result(UTF8String.fromString(new org.apache.hadoop.fs.Path(resolved).getName),
      UTF8String.fromString(cols.mkString(",")))
  }
}

/** `CALL cat.system.create_branch(table => 'ns.t', name => 'dev')` — fork
  * a writable branch off the current (or pinned) version: zero data
  * copied, independent lineage, fast-forward publish back
  * ([[VersionedTable.createBranch]]).
  */
final class CreateBranchProcedure(resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {
  override def name: String = "create_branch"
  override def description: String =
    "Forks a writable branch off the table's current (or pinned) version — " +
      "zero-copy, independently writable, fast-forwardable back to main"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType).build(),
    ProcedureParameter.in("name", DataTypes.StringType).build(),
    ProcedureParameter.in("version", DataTypes.StringType).defaultValue("''")
      .comment("version to fork from: a name, 'tag:<t>' or 'ts:<spec>' (default: current)")
      .build())

  protected val outputSchema = StructType.fromDDL("fork_version STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val (root, pcols) = resolveTarget(input.getString(0))
    val version = Option(input.getString(2)).filter(_.nonEmpty)
    result(UTF8String.fromString(
      VersionedTable.createBranch(root, input.getString(1), version, pcols)))
  }
}

/** `CALL cat.system.fast_forward(table => 'ns.t', name => 'dev')` — the
  * branch head's exact content becomes main's next version, CAS-guarded on
  * the fork version: main moved since the fork ⇒ loud refusal.
  */
final class FastForwardProcedure(resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {
  override def name: String = "fast_forward"
  override def description: String =
    "Publishes the branch head as main's next version (zero-copy), refusing " +
      "loudly when main has moved since the branch forked"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType).build(),
    ProcedureParameter.in("name", DataTypes.StringType).build())

  protected val outputSchema = StructType.fromDDL("version STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val (root, pcols) = resolveTarget(input.getString(0))
    result(UTF8String.fromString(
      VersionedTable.fastForward(root, input.getString(1), pcols)))
  }
}

/** `CALL cat.system.rebase_branch(table => 'ns.t', name => 'dev')` — replay
  * the branch's file delta onto a MAIN that moved since the fork, zero-copy,
  * refusing loudly on overlapping rewrites or un-materialized deletion
  * vectors; falls back to a plain fast-forward when main has not moved.
  */
final class RebaseBranchProcedure(resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {
  override def name: String = "rebase_branch"
  override def description: String =
    "Replays the branch's file delta onto main's new head (zero-copy), refusing " +
      "loudly when the branch and main rewrote the same files"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType).build(),
    ProcedureParameter.in("name", DataTypes.StringType).build())

  protected val outputSchema = StructType.fromDDL("version STRING")

  override def call(input: InternalRow): JIterator[Scan] = {
    val (root, pcols) = resolveTarget(input.getString(0))
    result(UTF8String.fromString(
      VersionedTable.rebaseBranch(root, input.getString(1), pcols)))
  }
}

/** `CALL cat.system.drop_branch(table => 'ns.t', name => 'dev')`. */
final class DropBranchProcedure(resolveTarget: String => (String, Seq[String]))
    extends RefTableProcedure {
  override def name: String = "drop_branch"
  override def description: String =
    "Deletes a branch's lineage, links and fork marker; main is untouched"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType).build(),
    ProcedureParameter.in("name", DataTypes.StringType).build())

  protected val outputSchema = StructType.fromDDL("dropped BOOLEAN")

  override def call(input: InternalRow): JIterator[Scan] = {
    val (root, _) = resolveTarget(input.getString(0))
    result(Boolean.box(VersionedTable.dropBranch(root, input.getString(1))))
  }
}

/** `CALL cat.system.ingest(table => 'ns.t', source => '/landing/dir')` —
  * idempotent landing-zone batch ingestion (the `COPY INTO` shape): every
  * not-yet-loaded data file in the source directory loads exactly once
  * through the table's declared write gates; re-runs ingest only the
  * delta. Crash-safe via the log-first protocol ([[RefTableIngest]]):
  * a batch whose data append crashed is completed, never duplicated.
  */
final class IngestProcedure(resolveOpts: String => RefTableOptions)
    extends RefTableProcedure {
  override def name: String = "ingest"
  override def description: String =
    "Loads every not-yet-ingested data file from the source directory into the table, " +
      "exactly once (idempotent re-runs, crash-safe log-first protocol)"

  override def parameters: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", DataTypes.StringType).build(),
    ProcedureParameter.in("source", DataTypes.StringType)
      .comment("landing directory; top-level non-hidden files are the ingest unit").build(),
    ProcedureParameter.in("format", DataTypes.StringType).defaultValue("'parquet'")
      .comment("parquet (default), orc, json, or csv (with header)").build())

  protected val outputSchema =
    StructType.fromDDL("ingested INT, recovered INT, skipped INT, seq BIGINT")

  override def call(input: InternalRow): JIterator[Scan] = {
    val r = RefTableIngest.ingest(SparkSession.active,
      resolveOpts(input.getString(0)), input.getString(1), input.getString(2))
    result(Int.box(r.ingested), Int.box(r.recovered), Int.box(r.skipped),
      Long.box(r.seq))
  }
}
