package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

/** The scan decoder — the only one: every reftable scan (batch,
  * micro-batch stream, changefeed stream) decodes parquet through Spark's
  * VectorizedParquetRecordReader (the same batched decoder the built-in
  * parquet source uses — dictionary-aware, null-vector based) and
  * republishes the batch under the source's output projection. It decodes
  * every type option validation accepts (`RefTableConfig.decodable`):
  * flat primitives including SMALLINT/TINYINT, DECIMAL, DATE and
  * TIMESTAMP, and single-level arrays — VECTOR / token-list columns — via
  * Spark's nested-column decode (parquet LIST → offsets + child vector).
  *
  *  - storage columns are requested once each (option validation refuses
  *    two fields over one storage column);
  *  - the generation column rides the reader's partition-value mechanism
  *    (a ConstantColumnVector, zero per-row cost);
  *  - TIMESTAMP(NANOS) columns — unsupported by the vectorized decoder as
  *    timestamps — are requested as LongType (legacy nanosAsLong contract)
  *    and wrapped in a floorDiv(·,1000) view, keeping the batch columnar.
  *
  * Row-group + page-level skipping comes from the pushed FilterPredicates;
  * exact filtering is Spark's job — the scan builder returns every filter as
  * a residual (see RefTableScanBuilder.pushFilters).
  */
object RefTableColumnarReader {
  /** Per-executor footer cache: byte-range splits of the same file (and
    * re-reads across generations) share one footer parse instead of one
    * metadata round-trip per split. Holds the FULL footer (schema +
    * row-group metadata) — the row groups feed [[rowsBefore]]. Keyed on
    * (path, fileLength) — the length comes from the generation's pinned
    * listing, so a file swapped in place under a stable name (the
    * delete+rename pattern) stops hitting the old entry the moment its
    * size changes; same-length swaps of *parquet* files are vanishingly
    * rare (footer offsets/stats differ). Bounded: past `capacity` entries
    * the least recently used goes, so long-lived executors don't
    * accumulate entries and one wide read never flushes the entries the
    * other readers in the JVM (local-mode executors included) still use.
    */
  private[graft] final class FooterCache[V <: AnyRef](capacity: Int) {
    /** One entry, loaded at most once however many readers miss it at the
      * same time (a failed load retries on the next access). */
    private final class Entry(load: () => V) { lazy val value: V = load() }
    private val entries = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
        size > capacity
    }

    def contains(key: String): Boolean = entries.synchronized(entries.containsKey(key))

    /** The entry of `key`, loaded by `load` outside the lock on a miss. */
    def get(key: String)(load: => V): V = entries.synchronized {
      val e = entries.get(key)
      if (e != null) e else { val n = new Entry(() => load); entries.put(key, n); n }
    }.value
  }

  private val footerCache =
    new FooterCache[org.apache.parquet.hadoop.metadata.ParquetMetadata](4096)

  private def footerKey(path: Path, fileLength: Long): String = s"$path#$fileLength"

  private[reftable] def footerOf(
      path: Path, fileLength: Long, conf: Configuration): org.apache.parquet.hadoop.metadata.ParquetMetadata =
    footerCache.get(footerKey(path, fileLength)) {
      val r = HadoopConf.openParquet(path, conf)
      try r.getFooter
      finally r.close()
    }

  /** The uncached footers one schema merge reads on the driver, on up to
    * [[FooterReadThreads]] threads. A base with more misses (a cold driver
    * over a wide table) merges in Spark's parallel footer job instead —
    * the one a `mergeSchema` read runs — and leaves the cache to the
    * scans. */
  private val DriverFooterReads = 64
  private val FooterReadThreads = 8

  /** The merged Spark schema of `files`' footers: what a `mergeSchema` read
    * infers. The footers come from the cache above, misses read on the
    * driver in parallel, and merge through Spark's own
    * `ParquetFileFormat.readSchema`, so field order, types and the
    * recorded-Spark-schema preference are the built-in source's. More than
    * `driverReads` misses run Spark's footer job over all of `files`. None
    * for no files.
    */
  private[graft] def mergedSchema(
      spark: org.apache.spark.sql.SparkSession, files: Seq[SnapshotFile],
      conf: Configuration, driverReads: Int = DriverFooterReads): Option[StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaBridge
    val misses = files.count(f => !footerCache.contains(footerKey(new Path(f.path), f.length)))
    def footer(f: SnapshotFile) = {
      val p = new Path(f.path)
      new org.apache.parquet.hadoop.Footer(p, footerOf(p, f.length, conf))
    }
    if (misses > driverReads)
      FooterSchemaBridge.mergeInJob(
        files.map(f => new FileStatus(f.length, false, 0, 0L, 0L, new Path(f.path))), spark)
    else FooterSchemaBridge.merge(
      if (misses <= 1) files.map(footer)
      else FooterSchemaBridge.parmap(files, FooterReadThreads)(footer), spark)
  }

  /** Whether a row group belongs to the byte range [start, start + length):
    * parquet's midpoint assignment (start + compressedSize/2 inside the
    * range), the rule [[rowsBefore]] counts by and the split's reader
    * decodes by.
    */
  private def midpointIn(
      b: org.apache.parquet.hadoop.metadata.BlockMetaData, start: Long, length: Long): Boolean = {
    val mid = b.getStartingPos + b.getCompressedSize / 2
    mid >= start && mid < start + length
  }

  /** `footer` narrowed to the row groups of the split [start, start +
    * length): what a range read of the file would parse, without reading
    * the footer again.
    */
  private[reftable] def splitFooter(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata, start: Long, length: Long)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    import scala.jdk.CollectionConverters._
    new org.apache.parquet.hadoop.metadata.ParquetMetadata(footer.getFileMetaData,
      footer.getBlocks.asScala.filter(midpointIn(_, start, length)).asJava)
  }

  /** File-global row index of the first row a byte-range split starting at
    * `start` will decode: the summed row counts of the row groups BEFORE
    * the split under parquet's standard midpoint assignment (a range read
    * takes the row groups whose start + compressedSize/2 falls inside it —
    * the same rule [[splitFooter]] narrows the decoder's footer by). This
    * is what lets deletion-vector'd files keep their
    * byte-range splits: each split re-derives where its sequential row
    * index begins, and position subtraction stays aligned.
    */
  private[reftable] def rowsBefore(
      path: Path, fileLength: Long, start: Long, conf: Configuration): Long = {
    if (start <= 0L) return 0L
    import scala.jdk.CollectionConverters._
    footerOf(path, fileLength, conf).getBlocks.asScala.iterator
      .filter(midpointIn(_, 0L, start))
      .map(_.getRowCount).sum
  }

  /** Whether THIS file serves a declared field as a directory constant:
    * its own partition values carry the field. Partition evolution makes
    * this per-file — a file written under an earlier partition spec keeps
    * the column in its data pages (or in ITS pv, for a column since
    * removed from the spec), so neither side of the decision can come
    * from the current descriptor alone. A hidden-transform dir value
    * (`<col>_day` etc.) never masquerades as a schema field.
    */
  private[reftable] def pvConst(
      opts: RefTableOptions, pv: Map[String, String], f: StructField): Boolean =
    pv.contains(f.name) && !opts.hiddenTransforms.exists(_.dirName == f.name)

  /** The Spark type this file NATURALLY decodes a storage column at
    * (primitive + annotation); None when unstatable/absent. Used by the
    * widening read: when the declared type is wider than the file's, the
    * vectorized reader requests the natural type and a widening vector
    * view converts — per file, so mixed-generation listings read each file
    * at its own width.
    */
  private[reftable] def naturalType(fileSchema: MessageType, c: String): Option[DataType] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    if (!fileSchema.containsField(c)) return None
    val t = fileSchema.getType(Seq(c): _*)
    if (!t.isPrimitive) return None
    val pt = t.asPrimitiveType()
    pt.getPrimitiveTypeName match {
      case INT32 => pt.getLogicalTypeAnnotation match {
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.getBitWidth == 8 => Some(ByteType)
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.getBitWidth == 16 => Some(ShortType)
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some(DateType)
        case null => Some(IntegerType)
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned => Some(IntegerType)
        case _ => None
      }
      case INT64 => pt.getLogicalTypeAnnotation match {
        case null => Some(LongType)
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned && i.getBitWidth == 64 => Some(LongType)
        case _ => None
      }
      case FLOAT => Some(FloatType)
      case DOUBLE => Some(DoubleType)
      case _ => None
    }
  }

  /** Lossless widening pairs the read path serves per file. */
  private[reftable] def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Per-file datetime rebase modes, mirroring the decision Spark's built-in
    * parquet path makes in DataSourceUtils: LEGACY (hybrid
    * Julian–Gregorian rebasing, using the writer timezone recorded in
    * `org.apache.spark.timeZone`) when the writer marker
    * `org.apache.spark.legacyDateTime` / `org.apache.spark.legacyINT96`
    * is present, OR when the recorded writer version predates the marker
    * itself — Spark ≤2.x always wrote the legacy calendar but the
    * markers only exist since 3.0 (3.1 for INT96, which 3.0 still wrote
    * legacy). Everything else — modern Spark and non-Spark writers on the
    * proleptic Gregorian calendar — reads as written (CORRECTED).
    * Returns (datetimeMode, datetimeTz, int96Mode, int96Tz).
    */
  private[graft] def rebaseSpec(
      meta: org.apache.parquet.hadoop.metadata.FileMetaData): (String, String, String, String) = {
    val kv = meta.getKeyValueMetaData
    val tz = Option(kv.get("org.apache.spark.timeZone")).getOrElse("UTC")
    // writer version as (major, minor), if the file was written by Spark
    val version: Option[(Int, Int)] =
      Option(kv.get("org.apache.spark.version")).flatMap { v =>
        v.split("\\.").take(2) match {
          case Array(ma, mi) => scala.util.Try((ma.toInt, mi.toInt)).toOption
          case _ => None
        }
      }
    val dt =
      if (kv.containsKey("org.apache.spark.legacyDateTime") ||
        version.exists(_._1 < 3)) "LEGACY"
      else "CORRECTED"
    val i96 =
      if (kv.containsKey("org.apache.spark.legacyINT96") ||
        version.exists(v => v._1 < 3 || (v._1 == 3 && v._2 == 0))) "LEGACY"
      else "CORRECTED"
    (dt, tz, i96, tz)
  }
}

class RefTableColumnarReader(
    opts: RefTableOptions,
    required: StructType,
    pushed: Array[Filter],
    partition: RefTableInputPartition,
    limit: Option[Int] = None,
    conf: JobConf)
    extends PartitionReader[ColumnarBatch] {

  // pushed LIMIT: rows still wanted from this partition
  private var remaining: Int = limit.getOrElse(Int.MaxValue)
  private val hadoopPath = new Path(partition.path)

  // the whole file's footer, parsed once per executor: the schema checks
  // below read it, and the decoder gets it narrowed to this split
  private val footer = RefTableColumnarReader.footerOf(hadoopPath, partition.fileLength, conf)
  private val fileMeta = footer.getFileMetaData
  private val fileSchema: MessageType = fileMeta.getSchema

  private def isNanos(col: String): Boolean =
    fileSchema.containsField(col) &&
      (fileSchema.getType(Seq(col): _*).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      })

  /** Forward schema evolution: a declared column absent from this (older)
    * file — neither a directory constant of the file nor in its data pages
    * — reads as a null constant when allowMissingColumns is set.
    */
  private def missingFromFile(f: StructField): Boolean =
    !opts.genColumn.contains(f.name) && !pvConst(f) &&
      opts.allowMissingColumns && !fileSchema.containsField(opts.storageColumn(f.name))
  private def pvConst(f: StructField): Boolean =
    RefTableColumnarReader.pvConst(opts, partition.partitionValues, f)

  // output field i -> storage column (None = constant column: the
  // synthesized generation column, a directory partition value OF THIS
  // FILE (per-file under partition evolution), or a null-filled evolved
  // column this file predates)
  private val fieldSources: Array[Option[String]] = required.fields.map { f =>
    if (opts.genColumn.contains(f.name) || pvConst(f) || missingFromFile(f)) None
    else Some(opts.storageColumn(f.name))
  }

  // constant fields ride the vectorized reader's partition-column mechanism:
  // one ConstantColumnVector each, zero per-row decode cost
  private val constFields: Array[StructField] =
    required.fields.filter(f =>
      opts.genColumn.contains(f.name) || pvConst(f) || missingFromFile(f))
  private val constIndex: Map[String, Int] = constFields.map(_.name).zipWithIndex.toMap

  {
    val missing = fieldSources.flatten.distinct.filterNot(fileSchema.containsField)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Columns ${missing.mkString(", ")} not found in ${partition.path} " +
          s"(file has: ${fileSchema.getFields.toArray.map(_.asInstanceOf[Type].getName).mkString(", ")}); " +
          "set allowMissingColumns=true to null-fill evolved columns")
  }

  // merge-on-read deletion vectors: ascending file-global row indexes,
  // applied per batch through a selection view (DvSelectedVector) so DV'd
  // files keep BOTH the vectorized decoder and their byte-range splits —
  // the split's starting row index is re-derived from the footer's
  // row-group row counts (rowsBefore), and positions are walked in
  // lockstep with the batches
  private val dvPos: Array[Long] = partition.dvPositions.toArray
  private var dvIdx = 0
  private var physRow: Long =
    if (dvPos.isEmpty) 0L
    else RefTableColumnarReader.rowsBefore(hadoopPath, partition.fileLength, partition.start, conf)
  locally { while (dvIdx < dvPos.length && dvPos(dvIdx) < physRow) dvIdx += 1 }
  private val selection: DvSelection = if (dvPos.isEmpty) null else new DvSelection

  /** Pushed filters usable against THIS file: parquet rejects predicates
    * over columns it doesn't have, so filters referencing a column this
    * file lacks are withheld here — the residual above the scan evaluates
    * them over the null-filled rows with SQL semantics. Filters on
    * type-WIDENED columns are withheld per file too: the predicate
    * translates at the declared (wider) type and parquet refuses e.g. a
    * long predicate over an INT32 column — the residual keeps exactness,
    * the file just isn't pre-skipped.
    */
  private def pushableForFile: Array[Filter] =
    pushed.filter(_.references.forall { n =>
      opts.genColumn.contains(n) || opts.isPartitionCol(n) || {
        val sc = opts.storageColumn(n)
        fileSchema.containsField(sc) && !physicalNarrowerThanDeclared(n, sc)
      }
    })

  private def physicalNarrowerThanDeclared(field: String, storageCol: String): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val t = fileSchema.getType(Seq(storageCol): _*)
    if (!t.isPrimitive) return false
    val p = t.asPrimitiveType().getPrimitiveTypeName
    opts.schema.fields.find(_.name == field).map(_.dataType) match {
      case Some(LongType)   => p == INT32
      case Some(DoubleType) => p == FLOAT
      case _ => false
    }
  }

  // distinct storage columns, each requested once; nanos timestamps as
  // longs; type-WIDENED columns (declared wider than this file's physical)
  // requested at the file's NATURAL type and served through a widening
  // vector view — per file, so mixed-generation listings decode each file
  // at its own width
  private val storageCols: Array[String] = fieldSources.flatten.distinct
  private def widenedFrom(c: String, declared: DataType): Option[DataType] =
    RefTableColumnarReader.naturalType(fileSchema, c)
      .filter(nat => nat != declared && RefTableColumnarReader.widens(nat, declared))
  private val requestedSpark: StructType = StructType(storageCols.map { c =>
    val outType = required.fields(fieldSources.indexOf(Some(c))).dataType
    val readType =
      if (outType == TimestampType && isNanos(c)) LongType
      else widenedFrom(c, outType).getOrElse(outType)
    StructField(c, readType, nullable = true)
  })

  private val reader: VectorizedParquetRecordReader = {
    // the conf keys Spark's parquet read path expects (set by
    // ParquetFileFormat on the built-in path; we are our own file format)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema", requestedSpark.json)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", true)
    // deletion vectors: parquet row-group/page skipping would desynchronize
    // the sequential row index the positions address, so a DV'd file reads
    // unfiltered — Spark re-evaluates every pushed filter as a residual
    // (the file-source contract), so the result is identical
    val preds =
      if (dvPos.nonEmpty) Array.empty[org.apache.parquet.filter2.predicate.FilterPredicate]
      else pushableForFile.flatMap(f => RefTableFilters.translate(opts, f))
    if (preds.nonEmpty) ParquetInputFormat.setFilterPredicate(conf, preds.reduce(FilterApi.and))
    val (dtMode, dtTz, i96Mode, i96Tz) = RefTableColumnarReader.rebaseSpec(fileMeta)
    val r = new VectorizedParquetRecordReader(
      null, dtMode, dtTz, i96Mode, i96Tz, /* offHeap */ false, /* capacity */ 4096)
    val split = new FileSplit(hadoopPath, partition.start, partition.length, Array.empty[String])
    // open the split once: the cached footer narrowed to the split's row
    // groups, and a stream over the pinned length (no status call). The
    // task context wraps the reader's conf as is: it is a JobConf, which
    // JobContextImpl does not copy again.
    val file = HadoopInputFile.fromStatus(
      new FileStatus(partition.fileLength, false, 0, 0L, 0L, hadoopPath), conf)
    val in = file.newStream()
    try r.initialize(split, new TaskAttemptContextImpl(conf, new TaskAttemptID()),
      Some(file), Some(in),
      Some(RefTableColumnarReader.splitFooter(footer, partition.start, partition.length)))
    catch { case t: Throwable => in.close(); throw t }
    if (constFields.isEmpty) r.initBatch(new StructType(), InternalRow.empty)
    else {
      val row = new GenericInternalRow(constFields.length)
      constFields.zipWithIndex.foreach { case (f, i) =>
        val v: Any =
          if (opts.genColumn.contains(f.name)) java.lang.Long.valueOf(partition.gen)
          else if (pvConst(f))
            RefTablePartitioning.catalystValue(partition.partitionValues(f.name), f.dataType)
          else null // evolved column this file predates
        row.update(i, v)
      }
      r.initBatch(StructType(constFields.toIndexedSeq), row)
    }
    r.enableReturningBatches()
    r
  }

  // republish the inner batch's vectors under the output projection; the
  // vectors are stable across batches (only numRows changes)
  private var out: ColumnarBatch = _

  private def project(inner: ColumnarBatch): ColumnarBatch = {
    if (out == null) {
      val vectors: Array[ColumnVector] = fieldSources.zipWithIndex.map {
        case (None, i) => // constant (gen / partition-value) vector
          inner.column(storageCols.length + constIndex(required.fields(i).name))
        case (Some(c), i) =>
          val v = inner.column(storageCols.indexOf(c))
          val declared = required.fields(i).dataType
          if (declared == TimestampType && isNanos(c))
            new NanosToMicrosVector(v)
          else if (widenedFrom(c, declared).isDefined)
            new WidenedVector(v, declared)
          else v
      }
      out =
        if (selection == null) new ColumnarBatch(vectors)
        else new ColumnarBatch(
          vectors.map(v => new DvSelectedVector(v, selection): ColumnVector))
    }
    val decoded = inner.numRows()
    val survivors =
      if (selection == null) decoded
      else {
        // deleted positions falling inside this batch's row range; batches
        // without any (the common case — MoR deletes are sparse) pass
        // through as an identity view, zero copy and zero remap cost
        var j = dvIdx
        val hi = physRow + decoded
        while (j < dvPos.length && dvPos(j) < hi) j += 1
        if (j == dvIdx) { selection.identity = true; decoded }
        else {
          val map = selection.ensure(decoded)
          var k = 0; var r = 0; var d = dvIdx
          while (r < decoded) {
            if (d < j && dvPos(d) == physRow + r) d += 1
            else { map(k) = r; k += 1 }
            r += 1
          }
          selection.identity = false
          dvIdx = j
          dvSkipped += decoded - k
          k
        }
      }
    physRow += decoded
    val n = math.min(survivors, remaining)
    remaining -= n
    out.setNumRows(n)
    out
  }

  override def next(): Boolean = remaining > 0 && reader.nextBatch()
  override def get(): ColumnarBatch = project(reader.resultBatch())
  override def close(): Unit = reader.close()

  // cumulative per-reader read-volume metrics (RefTableMetrics)
  private var dvSkipped = 0L
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = Array(
    RefTableMetrics.TaskValue(RefTableMetrics.FilesRead, 1L),
    RefTableMetrics.TaskValue(RefTableMetrics.SplitBytes, partition.length),
    RefTableMetrics.TaskValue(RefTableMetrics.DvRowsSkipped, dvSkipped))
}

/** A TimestampType view over an INT64(NANOS) column decoded as longs:
  * floorDiv by 1000 on read (floor, not truncate — pre-epoch values).
  */
private[reftable] class NanosToMicrosVector(child: ColumnVector)
    extends ColumnVector(TimestampType) {
  override def getLong(rowId: Int): Long = Math.floorDiv(child.getLong(rowId), 1000L)
  override def hasNull: Boolean = child.hasNull
  override def numNulls(): Int = child.numNulls()
  override def isNullAt(rowId: Int): Boolean = child.isNullAt(rowId)
  override def getBoolean(rowId: Int): Boolean = child.getBoolean(rowId)
  override def getByte(rowId: Int): Byte = child.getByte(rowId)
  override def getShort(rowId: Int): Short = child.getShort(rowId)
  override def getInt(rowId: Int): Int = child.getInt(rowId)
  override def getFloat(rowId: Int): Float = child.getFloat(rowId)
  override def getDouble(rowId: Int): Double = child.getDouble(rowId)
  override def getArray(rowId: Int): ColumnarArray = child.getArray(rowId)
  override def getMap(ordinal: Int): ColumnarMap = child.getMap(ordinal)
  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal =
    child.getDecimal(rowId, precision, scale)
  override def getUTF8String(rowId: Int): UTF8String = child.getUTF8String(rowId)
  override def getBinary(rowId: Int): Array[Byte] = child.getBinary(rowId)
  override def getChild(ordinal: Int): ColumnVector = child.getChild(ordinal)
  override def close(): Unit = () // the child belongs to the inner reader
}

/** A lossless type-widening view over a column decoded at this FILE's
  * narrower natural type: declared-long over int/short/byte files,
  * declared-double over float files — the per-file read side of
  * `ALTER TABLE … ALTER COLUMN TYPE` descriptor-only widening. Keeps old
  * files on the vectorized decoder at their own width; conversions happen
  * on access and are exact for every representable value.
  */
private[reftable] final class WidenedVector(child: ColumnVector, to: DataType)
    extends ColumnVector(to) {
  override def hasNull: Boolean = child.hasNull
  override def numNulls(): Int = child.numNulls()
  override def isNullAt(rowId: Int): Boolean = child.isNullAt(rowId)
  override def getBoolean(rowId: Int): Boolean = child.getBoolean(rowId)
  override def getByte(rowId: Int): Byte = child.getByte(rowId)
  override def getShort(rowId: Int): Short = child.dataType() match {
    case ByteType => child.getByte(rowId).toShort
    case _ => child.getShort(rowId)
  }
  override def getInt(rowId: Int): Int = child.dataType() match {
    case ByteType  => child.getByte(rowId).toInt
    case ShortType => child.getShort(rowId).toInt
    case _ => child.getInt(rowId)
  }
  override def getLong(rowId: Int): Long = child.dataType() match {
    case ByteType    => child.getByte(rowId).toLong
    case ShortType   => child.getShort(rowId).toLong
    case IntegerType => child.getInt(rowId).toLong
    case _ => child.getLong(rowId)
  }
  override def getFloat(rowId: Int): Float = child.getFloat(rowId)
  override def getDouble(rowId: Int): Double = child.dataType() match {
    case FloatType => child.getFloat(rowId).toDouble
    case _ => child.getDouble(rowId)
  }
  override def getArray(rowId: Int): ColumnarArray = child.getArray(rowId)
  override def getMap(ordinal: Int): ColumnarMap = child.getMap(ordinal)
  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal =
    child.getDecimal(rowId, precision, scale)
  override def getUTF8String(rowId: Int): UTF8String = child.getUTF8String(rowId)
  override def getBinary(rowId: Int): Array[Byte] = child.getBinary(rowId)
  override def getChild(ordinal: Int): ColumnVector = child.getChild(ordinal)
  override def close(): Unit = () // the child belongs to the inner reader
}

/** Mutable per-batch selection shared by every column of one output batch:
  * `identity` passes row ids through untouched (the delete-free-batch fast
  * path); otherwise `map(i)` is the physical row of the i-th surviving row.
  * One int buffer, reused across batches.
  */
private[reftable] final class DvSelection {
  var identity: Boolean = true
  var map: Array[Int] = new Array[Int](4096)
  def ensure(n: Int): Array[Int] = {
    if (map.length < n) map = new Array[Int](n)
    map
  }
}

/** A deletion-vector view over a decoded column: logical row ids remap
  * through the shared [[DvSelection]] to the physical rows that survived
  * this batch's deleted positions. Keeps DV'd files on the vectorized
  * decoder — downstream operators see an ordinary ColumnarBatch, one array
  * indirection per access on batches that actually contain deletes.
  */
private[reftable] final class DvSelectedVector(child: ColumnVector, sel: DvSelection)
    extends ColumnVector(child.dataType) {
  @inline private def p(rowId: Int): Int = if (sel.identity) rowId else sel.map(rowId)
  // hasNull/numNulls may overcount (they see deleted rows too) — safe:
  // consumers only use them to skip per-row null checks when false/zero
  override def hasNull: Boolean = child.hasNull
  override def numNulls(): Int = child.numNulls()
  override def isNullAt(rowId: Int): Boolean = child.isNullAt(p(rowId))
  override def getBoolean(rowId: Int): Boolean = child.getBoolean(p(rowId))
  override def getByte(rowId: Int): Byte = child.getByte(p(rowId))
  override def getShort(rowId: Int): Short = child.getShort(p(rowId))
  override def getInt(rowId: Int): Int = child.getInt(p(rowId))
  override def getLong(rowId: Int): Long = child.getLong(p(rowId))
  override def getFloat(rowId: Int): Float = child.getFloat(p(rowId))
  override def getDouble(rowId: Int): Double = child.getDouble(p(rowId))
  override def getArray(rowId: Int): ColumnarArray = child.getArray(p(rowId))
  override def getMap(ordinal: Int): ColumnarMap = child.getMap(p(ordinal))
  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal =
    child.getDecimal(p(rowId), precision, scale)
  override def getUTF8String(rowId: Int): UTF8String = child.getUTF8String(p(rowId))
  override def getBinary(rowId: Int): Array[Byte] = child.getBinary(p(rowId))
  override def getChild(ordinal: Int): ColumnVector = child.getChild(ordinal)
  override def close(): Unit = () // the child belongs to the inner reader
}
