package graft.sources.reftable

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The one STREAMING write for reftable — `writeStream.format("reftable")`
  * and `df.writeStream.toTable("graft.db.t")` both run it (the table
  * declares STREAMING_WRITE, so the engine never falls back to a V1 sink).
  * A properly DISTRIBUTED implementation of the three output modes:
  *
  *  - executors write their partitions of each micro-batch straight to
  *    parquet under an ignored `.streaming-<queryId>/<epochId>/` staging
  *    dir inside the table root (one [[EpochWriter]] per task; Hive
  *    `col=value` sub-dirs for partitioned tables, partition columns
  *    projected OUT of file content exactly like the batch writer);
  *  - each writer's commit message carries ONLY (relative path, length,
  *    partition values) — no row ever reaches the driver;
  *  - the driver's `commit(epochId, messages)` COPIES the staged files into
  *    the version's staging dir and publishes (copy-then-cleanup, NOT
  *    rename: the epoch dir stays the durable source of the data until the
  *    commit CAS lands — a lost CAS deletes the attempt's version staging,
  *    and with renamed files the retry would have nothing left to publish;
  *    the epoch dir is deleted only after a successful commit):
  *    append mode → an O(new data) version via the by-reference manifest
  *    delta under the epoch's [[RefTableWrites.Txn]] marker, through the
  *    one exactly-once append commit ([[RefTableWrites.commitAppend]]), so
  *    restart/zombie replays land EXACTLY ONCE; complete mode (engine
  *    calls `truncate()` on the builder) → the epoch's files become the
  *    FULL next version, same marker dedup.
  *
  * `appId` is the streaming query id (stable across checkpoint restarts;
  * `LogicalWriteInfo.queryId`), overridable via the `txnAppId` write
  * option. Empty non-complete epochs against an existing table commit
  * nothing; complete-mode empty epochs publish an empty version.
  *
  * Tables with declared `keyColumns` (`keyedUpsert`): every non-complete
  * epoch applies as a merge-on-read UPSERT on the keys — this is how
  * streaming UPDATE mode lands (Spark signals it only through the
  * builder's `SupportsStreamingUpdateAsAppend` marker, so the semantics
  * must be mode-independent; an append epoch of all-new keys degrades to
  * a plain file adoption after the key-bounds probe prunes everything).
  */
class RefTableStreamingWrite(
    opts: RefTableOptions, truncate: Boolean, appId: String,
    keyedUpsert: Boolean = false)
    extends StreamingWrite {

  RefTableWrites.refuseGlobalLayout(opts)

  private val stagingRoot = s"${opts.path}/.streaming-$appId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // file content carries STORAGE names minus partition columns; rows
    // arrive in declared-schema order
    val storageFields = opts.schema.fields.map(f =>
      f.copy(name = opts.storageColumn(f.name)))
    RefTableWriterFactory(
      stagingRoot, StructType(storageFields), opts.partitionColumns.toList,
      new SerializableConfiguration(HadoopConf()),
      boundExpectations(), opts.onViolation, quarantineProjection())
  }

  /** onViolation=quarantine: the quarantine row's schema (declared names +
    * `_violated`) and its bound projection — every declared field plus the
    * comma-joined names of the rules the row broke.
    */
  private def quarantineProjection(): Option[(StructType,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression])] = {
    if (opts.onViolation != "quarantine" || opts.expectations.isEmpty) return None
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.StringType
    val fields = opts.schema.indices.map(i =>
      BoundReference(i, opts.schema(i).dataType, opts.schema(i).nullable): Expression)
    val ruleExprs = boundExpectations().map { case (n, e) =>
      If(Coalesce(Seq(e, Literal(false))), Literal.create(null, StringType), Literal(n))
        : Expression
    }
    val violated = ConcatWs(Literal(",") +: ruleExprs)
    Some((StructType(opts.schema.fields :+
      org.apache.spark.sql.types.StructField("_violated", StringType, nullable = true)),
      fields :+ violated))
  }

  /** Declared expectations analyzed against the write schema and bound to
    * row ordinals — executor-evaluable expressions (function calls resolve
    * through the session analyzer; attributes become BoundReferences in
    * declared order, which IS the row layout).
    */
  private def boundExpectations()
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    if (opts.expectations.isEmpty) return Nil
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val spark = org.apache.spark.sql.SparkSession.active
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(opts.schema)
    val byId = attrs.map(_.exprId).zipWithIndex.toMap
    opts.expectations.map { case (name, pred) =>
      val parsed =
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(pred)
      val analyzed = spark.sessionState.analyzer
        .execute(Filter(parsed, LocalRelation(attrs)))
      val cond = analyzed.collectFirst { case f: Filter => f.condition }.getOrElse(
        throw new IllegalStateException(s"expectation '$name' did not analyze to a filter"))
      name -> cond.transform {
        case a: AttributeReference => BoundReference(byId(a.exprId),
          a.dataType, a.nullable)
      }
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = HadoopConf()
    val epochMsgs = messages.toSeq.collect { case m: StagedEpochFiles => m }
    val staged = epochMsgs.flatMap(_.files)
    // expectation drop census (onViolation=drop): aggregate across tasks
    // and report — dropped rows are an operational signal, never silent
    val dropped = epochMsgs.flatMap(_.droppedByRule.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
    if (dropped.nonEmpty)
      System.err.println(s"[reftable] epoch $epochId dropped rows by expectation: " +
        dropped.toSeq.sortBy(_._1).map { case (r, n) => s"$r=$n" }.mkString(", "))
    val epochDir = new Path(s"$stagingRoot/$epochId")
    val fs = epochDir.getFileSystem(conf)
    def cleanup(): Unit = { fs.delete(epochDir, true); () }
    // COPY, not rename: a lost commit CAS deletes the attempt's version
    // staging dir — with renamed files the epoch's data would be gone and
    // the retry would have nothing to publish. The epoch dir stays the
    // durable source until the commit lands; cleanup() removes it after.
    def copyInto(staging: Path, from: Path, files: Seq[StagedFile]): Unit = {
      // an EMPTY truncate epoch still publishes (an empty version); the
      // staging dir must exist even when no file lands in it
      fs.mkdirs(staging)
      files.foreach { f =>
        val dst = new Path(staging, f.rel)
        fs.mkdirs(dst.getParent)
        if (!org.apache.hadoop.fs.FileUtil.copy(
            fs, new Path(from, f.rel), fs, dst, false, conf))
          throw new java.io.IOException(s"failed to stage ${f.rel} into $staging")
      }
    }
    def move(staging: Path): Unit = copyInto(staging, epochDir, staged)
    lazy val spark = org.apache.spark.sql.SparkSession.active
    // QUARANTINE FIRST (onViolation=quarantine): the rejects log commits
    // before the main epoch, so a crash between the two leaves a
    // quarantined-but-also-unpublished epoch (replayed whole on restart),
    // never a silently vanished reject. Its own transaction (`<appId>#q`)
    // makes the quarantine commit replay-deduped too.
    val stagedQ = epochMsgs.flatMap(_.quarantineFiles)
    if (stagedQ.nonEmpty) {
      val qOpts = RefTableWrites.quarantineOpts(opts)
      val qRows = epochMsgs.map(_.quarantineRows).sum
      System.err.println(
        s"[reftable] epoch $epochId quarantined $qRows row(s) to ${qOpts.path}")
      RefTableWrites.commitAppend(qOpts.path, qOpts.keepVersions, Nil,
          Some(RefTableWrites.Txn(s"$appId#q", epochId)), conf) { (staging, _) =>
        copyInto(staging, new Path(epochDir, "_q"), stagedQ)
      }
    }
    // append mode: a no-data trigger against an existing table commits
    // nothing (no version churn). COMPLETE mode must NOT skip: the epoch IS
    // the table state, so an empty epoch publishes an empty version — the
    // aggregate legitimately became empty and readers must see that.
    if (staged.isEmpty && !truncate && VersionedTable.resolve(opts.path, conf).isDefined) {
      cleanup(); return
    }
    val txn = RefTableWrites.Txn(appId, epochId)
    val upsert = keyedUpsert && VersionedTable.resolve(opts.path, conf).isDefined
    val committed =
      if (upsert) {
        // keyed tables (declared keyColumns): every non-complete epoch
        // applies as an O(epoch) merge-on-read UPSERT — update-mode rows
        // replace their key's current image via a DV on the old positions,
        // and epochs whose keys are all new degrade to a plain append (the
        // key-bounds probe prunes every file). The staged epoch files are
        // adopted as the new images directly (no rewrite); only their key
        // columns are re-read, for file narrowing and the old-position
        // semi-join. Same marker discipline — replays land exactly once.
        val storageSchema = StructType(opts.schema.fields.map(f =>
          f.copy(name = opts.storageColumn(f.name))))
        val paths = staged.map(f => new Path(epochDir, f.rel).toString)
        val keySource = spark.read.schema(storageSchema)
          .option("basePath", epochDir.toString).parquet(paths: _*)
        RefTableMutations.upsertMergeOnReadStaged(
          spark, opts.path, move, keySource, opts.keyColumns.map(opts.storageColumn),
          opts.keepVersions, opts.partitionColumns,
          RefTableMutations.partitionTypesOf(opts), Some(txn))
        true
      } else {
        RefTableWrites.guardBranchExists(opts.path, conf)
        // complete mode replaces the table; a pure epoch append's lost CAS
        // (e.g. to a concurrent autoCompact or CDC-apply) rebases instead
        // of re-copying the epoch's files
        RefTableWrites.commitAppend(opts.path, opts.keepVersions, opts.partitionColumns,
            Some(txn), conf, replace = truncate) { (staging, _) => move(staging) }
      }
    cleanup()
    // per-file stats for the committed epoch (batch writes get them inline):
    // without this, versions produced ONLY by the streaming write would
    // answer estimateStatistics with nothing and stats-based pruning would
    // degrade until a batch write or maintenance pass ran. Best-effort,
    // like every write surface's stats pass: a failure is reported
    if (committed) RefTableWrites.augmentStats(opts, spark, conf)
    // opt-in maintenance: streaming appends accrete one file per task per
    // epoch; once the file count crosses the threshold, compact as a
    // normal CAS'd publish (a concurrent writer's conflict or a transient
    // listing error just defers compaction to the next epoch). It never
    // fails the stream, but a failure is reported, never swallowed
    if (committed && opts.autoCompact && !truncate && !upsert)
      try {
        RefTableMaintenance.maintain(spark, opts.path,
          maxSmallFiles = opts.autoCompactFiles,
          keepVersions = opts.keepVersions,
          partitionColumns = opts.partitionColumns)
        ()
      } catch { case NonFatal(e) =>
        System.err.println(s"[reftable] epoch $epochId auto-compaction failed on ${opts.path} " +
          s"(the commit stands): $e")
      }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = HadoopConf()
    val epochDir = new Path(s"$stagingRoot/$epochId")
    epochDir.getFileSystem(conf).delete(epochDir, true)
    ()
  }

  override def toString: String = s"RefTableStreamingWrite(${opts.path})"
}

/** One staged file: version-relative path, byte length, partition values
  * (raw directory strings, the same form the listing decodes).
  */
final case class StagedFile(rel: String, len: Long, pv: Map[String, String])

final case class StagedEpochFiles(
    files: Seq[StagedFile],
    droppedByRule: Map[String, Long] = Map.empty,
    quarantineFiles: Seq[StagedFile] = Nil,
    quarantineRows: Long = 0L) extends WriterCommitMessage

/** Serializable per-task writer factory. `schema` carries STORAGE names
  * in declared order (partition columns included — they are projected out
  * of file content but read from the row for directory routing). `conf`
  * is the session's Hadoop conf, shipped with the tasks the way Spark's
  * own file writers ship theirs.
  */
final case class RefTableWriterFactory(
    stagingRoot: String, schema: StructType, partitionColumns: List[String],
    conf: SerializableConfiguration,
    expectations: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    onViolation: String = "fail",
    quarantine: Option[(StructType,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression])] = None)
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new EpochWriter(s"$stagingRoot/$epochId", schema, partitionColumns,
      f"part-$partitionId%05d-$taskId", new Configuration(conf.value),
      expectations, onViolation, quarantine)
}

/** Executor-side parquet writer for one task of one epoch. Rows split by
  * partition value into `col=value` sub-dirs (one open parquet writer per
  * value seen — the standard dynamic-partition memory caveat applies);
  * file content excludes partition columns. Timestamps are written as
  * INT64 micros with CORRECTED rebase, matching every other reftable
  * write path ([[VersionedTable.writeParquetMicros]]).
  */
final class EpochWriter(
    epochDir: String, schema: StructType, partitionColumns: List[String],
    filePrefix: String,
    conf: Configuration,
    expectations: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    onViolation: String = "fail",
    quarantine: Option[(StructType,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression])] = None)
    extends DataWriter[InternalRow] {

  // row-level quality gates, evaluated IN the write path (codegen'd
  // predicates with interpreted fallback): fail → the task (and so the
  // epoch) aborts naming the rule, nothing lands; drop → the row is
  // skipped and counted (counts ride the commit message)
  private lazy val gatePreds = expectations.map { case (n, e) =>
    n -> org.apache.spark.sql.catalyst.expressions.Predicate.create(e)
  }
  private val dropCounts = mutable.Map.empty[String, Long].withDefaultValue(0L)

  // quarantine routing: violating rows are projected to (declared fields +
  // _violated rule names) and written under the epoch's `_q/` staging;
  // the driver publishes them to the sibling quarantine table at commit
  private lazy val qProject = quarantine.map { case (_, exprs) =>
    UnsafeProjection.create(exprs)
  }
  private lazy val qConf = quarantine.map { case (qSchema, _) =>
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(qSchema, c)
    c
  }
  private var qWriter: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var qFile: String = _
  private var qRows = 0L

  // ParquetWriteSupport.init / SparkToParquetSchemaConverter read these
  // from the hadoop conf with no defaults (Spark's own writer sets them
  // in prepareWrite) — TIMESTAMP_MICROS + CORRECTED to match every
  // other reftable write path
  conf.set("spark.sql.parquet.writeLegacyFormat", "false")
  conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
  conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
  conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
  conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
  private val partIdx = partitionColumns.map(schema.fieldIndex)
  private val dataIdx = schema.fields.indices.filterNot(partIdx.contains)
  private val dataSchema = StructType(dataIdx.map(schema.fields))
  private val project = UnsafeProjection.create(
    dataIdx.map(i => BoundReference(i, schema(i).dataType, schema(i).nullable)
      : org.apache.spark.sql.catalyst.expressions.Expression))
  ParquetWriteSupport.setSchema(dataSchema, conf)

  private val writers =
    mutable.Map.empty[String, org.apache.parquet.hadoop.ParquetWriter[InternalRow]]
  private val written = mutable.ListBuffer.empty[(String, Map[String, String])]

  private class RowBuilder(file: org.apache.parquet.io.OutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[InternalRow, RowBuilder](file) {
    override def self(): RowBuilder = this
    override def getWriteSupport(c: Configuration) = new ParquetWriteSupport
  }

  /** Spark's escapePathName rendering of one partition value, so the
    * reader's `unescape` (its exact inverse) and Spark's own partitioned
    * reads both decode the directories this writer lays down.
    */
  private def render(i: Int, row: InternalRow): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    if (row.isNullAt(i)) return RefTablePartitioning.HiveDefaultPartition
    schema(i).dataType match {
      case StringType => ExternalCatalogUtils.escapePathName(row.getUTF8String(i).toString)
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case BooleanType => row.getBoolean(i).toString
      case DoubleType => row.getDouble(i).toString
      case FloatType => row.getFloat(i).toString
      case DateType => java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
      case TimestampType | TimestampNTZType =>
        // inverse of RefTablePartitioning.timestampMicros: wall-clock in
        // the JVM default zone (instant) / UTC (ntz), space separator
        val micros = row.getLong(i)
        val inst = java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
        val ldt =
          if (schema(i).dataType == TimestampNTZType)
            java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
          else java.time.LocalDateTime.ofInstant(inst, java.time.ZoneId.systemDefault())
        val s = ldt.toString.replace('T', ' ')
        ExternalCatalogUtils.escapePathName(if (s.length == 16) s + ":00" else s)
      case other => throw new UnsupportedOperationException(
        s"streaming write: unsupported partition type ${other.simpleString}")
    }
  }

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < gatePreds.size) {
      val (rname, p) = gatePreds(i)
      if (!p.eval(row)) { // null evaluates false: unmet is unmet
        onViolation match {
          case "fail" =>
            throw new IllegalStateException(
              s"reftable: epoch refused — expectation '$rname' violated (onViolation=fail)")
          case "quarantine" =>
            if (qWriter == null) {
              qFile = s"$filePrefix-q.parquet"
              qWriter = new RowBuilder(
                org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
                  new Path(s"$epochDir/_q/$qFile"), qConf.get))
                .withConf(qConf.get)
                .withCompressionCodec(
                  org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
                .build()
            }
            qWriter.write(qProject.get(row))
            qRows += 1
          case _ => dropCounts(rname) += 1
        }
        return
      }
      i += 1
    }
    val dir = partitionColumns.indices
      .map(j => s"${partitionColumns(j)}=${render(partIdx(j), row)}")
      .mkString("/")
    val w = writers.getOrElseUpdate(dir, {
      val rel = (if (dir.isEmpty) "" else dir + "/") +
        s"$filePrefix-${writers.size}.parquet"
      val pv = partitionColumns.indices
        .map(j => partitionColumns(j) ->
          RefTablePartitioning.unescape(render(partIdx(j), row))).toMap
      written += ((rel, pv))
      val p = new Path(s"$epochDir/$rel")
      new RowBuilder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(p, conf))
        .withConf(conf)
        .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
    })
    w.write(project(row))
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    if (qWriter != null) qWriter.close()
    val fs = new Path(epochDir).getFileSystem(conf)
    val qStaged =
      if (qWriter == null) Nil
      else Seq(StagedFile(qFile,
        fs.getFileStatus(new Path(s"$epochDir/_q/$qFile")).getLen, Map.empty))
    StagedEpochFiles(written.toSeq.map { case (rel, pv) =>
      StagedFile(rel, fs.getFileStatus(new Path(s"$epochDir/$rel")).getLen, pv)
    }, dropCounts.toMap, qStaged, qRows)
  }

  override def abort(): Unit = {
    writers.values.foreach(w => try w.close() catch { case _: Throwable => () })
    if (qWriter != null) { try qWriter.close() catch { case _: Throwable => () } }
    val fs = new Path(epochDir).getFileSystem(conf)
    written.foreach { case (rel, _) =>
      try fs.delete(new Path(s"$epochDir/$rel"), false)
      catch { case _: Throwable => () }
    }
    if (qFile != null) {
      try fs.delete(new Path(s"$epochDir/_q/$qFile"), false)
      catch { case _: Throwable => () }
    }
    ()
  }

  override def close(): Unit = ()
}
