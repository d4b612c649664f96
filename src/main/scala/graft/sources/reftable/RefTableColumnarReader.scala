package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetInputFormat
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

/** Columnar scan path: decodes parquet through Spark's
  * VectorizedParquetRecordReader (the same batched decoder the built-in
  * parquet source uses — dictionary-aware, null-vector based, ~10× the
  * example-Group row decode) and republishes the batch under the source's
  * output projection:
  *
  *  - storage columns are requested once each and shared when both `rowField`
  *    and the raw key column appear in the schema;
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
  /** Types the vectorized decoder handles for this source's schemas.
    * Single-level arrays of the declarable vector element types ride
    * Spark's own nested-column vectorized decode (parquet LIST → offsets +
    * child vector, SPARK-34863) — embedding corpora are the north star's
    * dominant scans, so an `array<float>` column must NOT demote the whole
    * file to the row-oriented Group reader. Deeper nesting never reaches
    * here (refused at option validation).
    */
  def supports(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DoubleType | FloatType | BooleanType |
         StringType | BinaryType | TimestampType | DateType | ShortType | ByteType => true
    case _: DecimalType => true
    case ArrayType(et, _) => et match {
      case IntegerType | LongType | DoubleType | FloatType | BooleanType |
           StringType | BinaryType =>
        // escape hatch mirroring Spark's own
        // spark.sql.parquet.enableNestedColumnVectorizedReader: row-path
        // arrays on demand (A/B adjudication, emergency fallback)
        !"false".equalsIgnoreCase(
          System.getProperty("graft.reftable.vectorized.arrays", "true"))
      case _ => false
    }
    case _ => false
  }

  /** Per-executor footer cache: byte-range splits of the same file (and
    * re-reads across generations) share one footer parse instead of one
    * metadata round-trip per split. Holds the FULL footer (schema +
    * row-group metadata) — the row groups feed [[rowsBefore]]. Keyed on
    * (path, fileLength) — the length comes from the generation's pinned
    * listing, so a file swapped in place under a stable name (the
    * delete+rename pattern) stops hitting the old entry the moment its
    * size changes; same-length swaps of *parquet* files are vanishingly
    * rare (footer offsets/stats differ). The cache is cleared if it ever
    * grows past a bound so long-lived executors don't accumulate entries.
    */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.parquet.hadoop.metadata.ParquetMetadata]()

  private[reftable] def footerOf(
      path: Path, fileLength: Long, conf: Configuration): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    if (footerCache.size > 4096) footerCache.clear()
    footerCache.computeIfAbsent(s"$path#$fileLength", { _ =>
      val r = HadoopConf.openParquet(path, conf)
      try r.getFooter
      finally r.close()
    })
  }

  private[reftable] def fileMetaOf(
      path: Path, fileLength: Long, conf: Configuration): org.apache.parquet.hadoop.metadata.FileMetaData =
    footerOf(path, fileLength, conf).getFileMetaData

  /** File-global row index of the first row a byte-range split starting at
    * `start` will decode: the summed row counts of the row groups BEFORE
    * the split under parquet's standard midpoint assignment (a range read
    * takes the row groups whose start + compressedSize/2 falls inside it —
    * the same rule every range reader here uses via withRange /
    * withFileRange). This is what lets deletion-vector'd files keep their
    * byte-range splits: each split re-derives where its sequential row
    * index begins, and position subtraction stays aligned.
    */
  private[reftable] def rowsBefore(
      path: Path, fileLength: Long, start: Long, conf: Configuration): Long = {
    if (start <= 0L) return 0L
    import scala.jdk.CollectionConverters._
    footerOf(path, fileLength, conf).getBlocks.asScala.iterator
      .filter(b => b.getStartingPos + b.getCompressedSize / 2 < start)
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

  /** Forward schema evolution, shared by both read paths: a declared
    * column absent from this (older) file — neither a directory constant
    * of the file nor in its data pages — reads as a null constant when
    * allowMissingColumns is set.
    */
  private[reftable] def missingFromFile(
      opts: RefTableOptions, fileSchema: MessageType, pv: Map[String, String],
      f: StructField): Boolean =
    !opts.genColumn.contains(f.name) && !pvConst(opts, pv, f) &&
      opts.allowMissingColumns && !fileSchema.containsField(opts.storageColumn(f.name))

  /** Pushed filters usable against THIS file, shared by both read paths:
    * parquet rejects predicates over columns it doesn't have, so filters
    * referencing a column this file lacks are withheld here — the residual
    * above the scan evaluates them over the null-filled rows with SQL
    * semantics. Filters on type-WIDENED columns are withheld per file too:
    * the predicate translates at the declared (wider) type and parquet
    * refuses e.g. a long predicate over an INT32 column — the residual
    * keeps exactness, the file just isn't pre-skipped.
    */
  private[reftable] def pushableForFile(
      opts: RefTableOptions, fileSchema: MessageType, pushed: Array[Filter]): Array[Filter] =
    pushed.filter(_.references.forall { n =>
      opts.genColumn.contains(n) || opts.isPartitionCol(n) || {
        val sc = opts.storageColumn(n)
        fileSchema.containsField(sc) && !physicalNarrowerThanDeclared(opts, fileSchema, n, sc)
      }
    })

  private def physicalNarrowerThanDeclared(
      opts: RefTableOptions, fileSchema: MessageType, field: String, storageCol: String): Boolean = {
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
    conf: Configuration = HadoopConf())
    extends PartitionReader[ColumnarBatch] {

  // pushed LIMIT: rows still wanted from this partition
  private var remaining: Int = limit.getOrElse(Int.MaxValue)
  private val hadoopPath = new Path(partition.path)

  private val fileMeta = RefTableColumnarReader.fileMetaOf(hadoopPath, partition.fileLength, conf)
  private val fileSchema: MessageType = fileMeta.getSchema

  private def isNanos(col: String): Boolean =
    fileSchema.containsField(col) &&
      (fileSchema.getType(Seq(col): _*).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      })

  private def missingFromFile(f: StructField): Boolean =
    RefTableColumnarReader.missingFromFile(opts, fileSchema, partition.partitionValues, f)
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
      else RefTableColumnarReader.pushableForFile(opts, fileSchema, pushed)
        .flatMap(f => RefTableFilters.translate(opts, f))
    if (preds.nonEmpty) ParquetInputFormat.setFilterPredicate(conf, preds.reduce(FilterApi.and))
    val (dtMode, dtTz, i96Mode, i96Tz) = RefTableColumnarReader.rebaseSpec(fileMeta)
    val r = new VectorizedParquetRecordReader(
      null, dtMode, dtTz, i96Mode, i96Tz, /* offHeap */ false, /* capacity */ 4096)
    val split = new FileSplit(hadoopPath, partition.start, partition.length, Array.empty[String])
    r.initialize(split, new TaskAttemptContextImpl(conf, new TaskAttemptID()))
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
