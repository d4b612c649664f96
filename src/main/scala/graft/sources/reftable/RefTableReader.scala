package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** One byte range of one snapshot file = one input partition: files are
  * split at maxPartitionBytes boundaries and a range reads the row groups
  * whose midpoint falls inside it (parquet's standard split contract), so a
  * snapshot of few large files still parallelizes across the cluster.
  * Splitting needs no footer reads on the driver — ranges are arithmetic
  * over the pinned (path, fileLength) list.
  */
final case class RefTableInputPartition(
    path: String, start: Long, length: Long, fileLength: Long, gen: Long,
    partitionValues: Map[String, String] = Map.empty,
    dvPositions: Seq[Long] = Nil)
    extends InputPartition

object RefTablePartitions {
  /** Default split target, overridden by spark.sql.files.maxPartitionBytes. */
  private def targetSplitBytes: Long = {
    import scala.util.Try
    Try(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      org.apache.spark.sql.SparkSession.active.conf
        .get("spark.sql.files.maxPartitionBytes", "128MB")))
      .getOrElse(128L * 1024 * 1024)
  }

  def plan(files: Seq[SnapshotFile], gen: Long): Array[InputPartition] = {
    val target = math.max(1L, targetSplitBytes)
    // deletion-vector'd files split and vectorize exactly like clean
    // files: each reader re-derives its split's starting row index from
    // the footer's row-group row counts (RefTableColumnarReader.rowsBefore,
    // the same midpoint assignment the range read itself uses) and
    // subtracts positions batch-wise through a selection view — one MoR
    // delete costs neither the scan's vectorization nor its parallelism
    files.iterator.flatMap { f =>
      if (f.length <= target) {
        Iterator.single(RefTableInputPartition(
          f.path, 0L, f.length, f.length, gen, f.partitionValues, f.dvPositions))
      } else {
        (0L until f.length by target).iterator.map { start =>
          RefTableInputPartition(
            f.path, start, math.min(target, f.length - start), f.length, gen,
            f.partitionValues, f.dvPositions)
        }
      }
    }.toArray
  }

  /** Storage-partitioned-join planning (`groupByPartition`): ONE input
    * partition per distinct partition value, its byte-range splits chained
    * inside, the partition key exposed via [[HasPartitionKey]]. With
    * `spark.sql.sources.v2.bucketing.enabled` Spark then matches two
    * co-partitioned scans key-by-key and plans the equi-join with NO
    * shuffle on either side — the DSv2 analogue of a bucketed sort-merge
    * join, at 100 TB the difference between joining two date/cell-
    * partitioned facts in place and re-shuffling both. Trade-off made
    * explicit by the option: parallelism becomes O(partition values), so
    * group only when values ≫ cores or the shuffle saved dominates.
    */
  def planGrouped(
      files: Seq[SnapshotFile], gen: Long, opts: RefTableOptions): Array[InputPartition] = {
    val types = opts.partitionColumns.map(c =>
      c -> opts.schema.fields.find(_.name == c).map(_.dataType).getOrElse(StringType)).toMap
    // grouped scans promise ONE partition value per group (HasPartitionKey);
    // a file written under an earlier partition spec doesn't carry the
    // current values as directory constants, so the promise cannot be kept —
    // refuse loudly rather than group it under a wrong key
    val foreign = files.filterNot(f => opts.partitionColumns.forall(f.partitionValues.contains))
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"reftable: groupByPartition requires every snapshot file to carry the current " +
        s"partition value(s) [${opts.partitionColumns.mkString(", ")}], but ${foreign.size} " +
        s"file(s) (e.g. ${foreign.head.path}) were written under a different partition " +
        "spec; rewrite them under the current spec (CALL system.compact) or scan ungrouped")
    files.groupBy(f => opts.partitionColumns.map(f.partitionValues)).toSeq
      .sortBy(_._1.mkString("\u0000"))
      .map { case (raws, fs) =>
        val key = opts.partitionColumns.zip(raws).map { case (c, raw) =>
          RefTablePartitioning.catalystValue(raw, types(c))
        }.toArray
        RefTableGroupedInputPartition(
          plan(fs, gen).map(_.asInstanceOf[RefTableInputPartition]), key)
      }.toArray
  }
}

/** All of one partition value's splits as one input partition, the key
  * exposed for Spark's storage-partitioned join matching.
  */
final case class RefTableGroupedInputPartition(
    splits: Array[RefTableInputPartition], keyValues: Array[Any])
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(keyValues)
}

/** Drains the per-split readers of a grouped partition in sequence. */
private final class ChainedPartitionReader[T](
    splits: Seq[RefTableInputPartition],
    mk: RefTableInputPartition => PartitionReader[T])
    extends PartitionReader[T] {
  private val it = splits.iterator
  private var cur: PartitionReader[T] = _
  // metrics of drained (closed) per-split readers — currentMetricsValues
  // must stay CUMULATIVE across the chain, so bank each child's final
  // values before dropping it
  private val banked = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  private def bank(r: PartitionReader[T]): Unit =
    r.currentMetricsValues().foreach(m =>
      banked.update(m.name, banked.getOrElse(m.name, 0L) + m.value))
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = mk(it.next())
      }
      if (cur.next()) return true
      bank(cur)
      cur.close()
      cur = null
    }
    false
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val merged = scala.collection.mutable.LinkedHashMap(banked.toSeq: _*)
    if (cur != null) cur.currentMetricsValues().foreach(m =>
      merged.update(m.name, merged.getOrElse(m.name, 0L) + m.value))
    merged.iterator.map { case (n, v) => RefTableMetrics.TaskValue(n, v)
      : org.apache.spark.sql.connector.metric.CustomTaskMetric }.toArray
  }
}

/** Serializable factory — only (options, required schema, the scan's
  * broadcast Hadoop conf) ship to executors; readers are constructed
  * executor-side, each on a private copy of the conf (the reference relied
  * on lazy per-executor transformer init for the same reason,
  * TableStreamingSource.java:113-115).
  *
  * Scans are columnar whenever every output type is supported by Spark's
  * vectorized parquet decoder (all the source's declared types are); the
  * row-by-row Group reader remains as the fallback for exotic DDL types.
  */
class RefTableReaderFactory(
    opts: RefTableOptions, required: StructType, pushed: Array[Filter],
    limit: Option[Int], conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = {
    // deletion vectors do NOT demote the scan: the columnar reader applies
    // them batch-wise through a selection view, so the decision is purely
    // about types —
    // every type vectorizable, and no storage column requested at two
    // different output types (each storage column is decoded once);
    // constant columns (gen, partition values) ride partition vectors
    val colType = scala.collection.mutable.Map.empty[String, DataType]
    required.fields.forall { f =>
      RefTableColumnarReader.supports(f.dataType) &&
        (opts.genColumn.contains(f.name) || opts.isPartitionCol(f.name) ||
          colType.getOrElseUpdate(opts.storageColumn(f.name), f.dataType) == f.dataType)
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = partition match {
    case g: RefTableGroupedInputPartition =>
      new ChainedPartitionReader(g.splits.toIndexedSeq,
        (s: RefTableInputPartition) =>
          new RefTableColumnarReader(opts, required, pushed, s, limit, HadoopConf.copyOf(conf)))
    case p =>
      new RefTableColumnarReader(opts, required, pushed,
        p.asInstanceOf[RefTableInputPartition], limit, HadoopConf.copyOf(conf))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case g: RefTableGroupedInputPartition =>
      new ChainedPartitionReader(g.splits.toIndexedSeq,
        (s: RefTableInputPartition) =>
          new RefTablePartitionReader(opts, required, pushed, s, limit, HadoopConf.copyOf(conf)))
    case p =>
      new RefTablePartitionReader(opts, required, pushed,
        p.asInstanceOf[RefTableInputPartition], limit, HadoopConf.copyOf(conf))
  }
}

/** Executor-side decoder: schema-directed projection from the storage row
  * format to typed InternalRows — the analogue of the reference's
  * RowRecordTransformer (byte[] columns → typed record,
  * TableStreamingSource.java:101-118), including the row-key-as-column
  * projection (rowField → keyColumn) and the generation column.
  *
  * Reads only the requested storage columns (requested parquet schema is the
  * footer schema filtered to the needed fields, so file logical-type
  * annotations are preserved).
  */
class RefTablePartitionReader(
    opts: RefTableOptions,
    required: StructType,
    pushed: Array[Filter],
    partition: RefTableInputPartition,
    limit: Option[Int] = None,
    conf: Configuration = HadoopConf())
    extends PartitionReader[InternalRow] {

  // pushed LIMIT: rows still wanted from this partition
  private var remaining: Int = limit.getOrElse(Int.MaxValue)

  private val fileMeta =
    RefTableColumnarReader.fileMetaOf(new Path(partition.path), partition.fileLength, conf)
  private val fileSchema: MessageType = fileMeta.getSchema

  // forward schema evolution: declared column absent from this older file
  private def missingFromFile(f: StructField): Boolean =
    RefTableColumnarReader.missingFromFile(opts, fileSchema, partition.partitionValues, f)
  private def pvConst(f: StructField): Boolean =
    RefTableColumnarReader.pvConst(opts, partition.partitionValues, f)

  // storage column needed for each output field (None → constant: the gen
  // col, a directory partition value OF THIS FILE (per-file under
  // partition evolution), or a null-filled evolved column)
  private val fieldSources: Array[Option[String]] = required.fields.map { f =>
    if (opts.genColumn.contains(f.name) || pvConst(f) || missingFromFile(f)) None
    else Some(opts.storageColumn(f.name))
  }

  {
    // this fallback decoder does NOT implement hybrid-calendar rebasing;
    // a legacy-calendar file whose projection includes a date/timestamp
    // must fail loudly rather than silently diverge from the columnar
    // path (which does rebase)
    val (dtMode, _, _, _) = RefTableColumnarReader.rebaseSpec(fileMeta)
    val needsRebase = dtMode == "LEGACY" &&
      required.fields.iterator.zip(fieldSources.iterator).exists {
        case (f, Some(_)) => f.dataType == TimestampType || f.dataType == DateType
        case _ => false
      }
    if (needsRebase)
      throw new UnsupportedOperationException(
        s"reftable: ${partition.path} was written on the legacy hybrid calendar and the " +
          "row fallback reader does not rebase dates/timestamps; project only " +
          "vectorizable columns (the columnar path rebases) or rewrite the file")
  }

  // per-partition constant values for the None fields (null elsewhere)
  private val constVals: Array[Any] = required.fields.map { f =>
    if (opts.genColumn.contains(f.name)) partition.gen
    else if (pvConst(f))
      RefTablePartitioning.catalystValue(partition.partitionValues(f.name), f.dataType)
    else null
  }

  // columns referenced only by pushed filters must still be read (Spark may
  // prune them from the output projection once a filter is fully pushed);
  // filter-only columns this file lacks are simply not readable here — the
  // residual evaluates over the null-filled rows
  private val filterCols: Seq[String] = pushed.toSeq.flatMap(_.references)
    .flatMap(n =>
      if (opts.genColumn.contains(n) || opts.isPartitionCol(n)) None
      else Some(opts.storageColumn(n)))
    .filter(c => !opts.allowMissingColumns || fileSchema.containsField(c))

  private val requestedSchema: MessageType = {
    val wanted = (fieldSources.flatten ++ filterCols).distinct
    val missing = wanted.filterNot(fileSchema.containsField)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Columns ${missing.mkString(", ")} not found in ${partition.path} " +
          s"(file has: ${fileSchema.getFields.toArray.map(_.asInstanceOf[Type].getName).mkString(", ")}); " +
          "set allowMissingColumns=true to null-fill evolved columns")
    new MessageType(fileSchema.getName, wanted.map(n => fileSchema.getType(Seq(n): _*)): _*)
  }

  private val reader: ParquetReader[Group] = {
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, requestedSchema.toString)
    val b = ParquetReader.builder(new GroupReadSupport(), new Path(partition.path)).withConf(conf)
      .withFileRange(partition.start, partition.start + partition.length)
    // deletion vectors: parquet-mr row-group skipping and record filtering
    // would desynchronize the sequential row index the positions address,
    // so a DV'd file reads unfiltered — Spark re-evaluates every pushed
    // filter as a residual (the file-source contract), so the result is
    // identical, just not pre-skipped
    val preds: Seq[org.apache.parquet.filter2.predicate.FilterPredicate] =
      if (partition.dvPositions.nonEmpty) Seq.empty
      else RefTableColumnarReader.pushableForFile(opts, fileSchema, pushed)
        .flatMap(f => RefTableFilters.translate(opts, f)).toSeq
    val withF = if (preds.isEmpty) b
      else b.withFilter(FilterCompat.get(preds.reduce(FilterApi.and)))
    withF.build()
  }

  // merge-on-read deleted positions for this file, ascending, walked in
  // lockstep with the sequential row index; a byte-range split's starting
  // row index is re-derived from the footer's row-group row counts (same
  // midpoint assignment as the range read itself)
  private val dvPos: Array[Long] = partition.dvPositions.toArray
  private var dvIdx = 0
  private var rowIdx: Long =
    (if (dvPos.isEmpty) 0L
     else RefTableColumnarReader.rowsBefore(
       new Path(partition.path), partition.fileLength, partition.start, conf)) - 1L
  locally { while (dvIdx < dvPos.length && dvPos(dvIdx) <= rowIdx) dvIdx += 1 }

  /** nanos-per-micro divisor for INT64 timestamp columns, per file annotation. */
  private def tsDivisor(col: String): Long = {
    fileSchema.getType(Seq(col): _*).getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit match {
        case TimeUnit.NANOS  => 1000L
        case TimeUnit.MICROS => 1L
        case TimeUnit.MILLIS => -1L // multiply instead
      }
      case _ => 1L
    }
  }
  private val tsDivisors: Map[String, Long] =
    required.fields.iterator.zip(fieldSources.iterator).collect {
      case (f, Some(srcCol)) if f.dataType == TimestampType => srcCol -> tsDivisor(srcCol)
    }.toMap

  private var current: Group = _

  override def next(): Boolean = {
    if (remaining <= 0) return false
    while (true) {
      current = reader.read()
      if (current == null) return false
      rowIdx += 1
      // skip rows named by the deletion vector (positions ascending)
      if (dvIdx < dvPos.length && dvPos(dvIdx) == rowIdx) { dvIdx += 1; dvSkipped += 1 }
      else {
        remaining -= 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      fieldSources(i) match {
        case None => row.update(i, constVals(i))
        case Some(srcCol) =>
          if (current.getFieldRepetitionCount(srcCol) == 0) row.setNullAt(i)
          else row.update(i, decode(srcCol, required.fields(i).dataType))
      }
      i += 1
    }
    row
  }

  // file-side physical primitive per storage column (type widening: a
  // declared-long column may be INT32 in older files, declared-double may
  // be FLOAT — decode at the file's width, widen losslessly)
  private def primitiveOf(col: String) =
    fileSchema.getType(Seq(col): _*).asPrimitiveType().getPrimitiveTypeName

  private def decode(col: String, dt: DataType): Any = dt match {
    case IntegerType => current.getInteger(col, 0)
    case LongType =>
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32
      if (primitiveOf(col) == INT32) current.getInteger(col, 0).toLong
      else current.getLong(col, 0)
    case DoubleType =>
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT
      if (primitiveOf(col) == FLOAT) current.getFloat(col, 0).toDouble
      else current.getDouble(col, 0)
    case FloatType   => current.getFloat(col, 0)
    case BooleanType => current.getBoolean(col, 0)
    case StringType  => UTF8String.fromBytes(current.getBinary(col, 0).getBytes)
    case BinaryType  => current.getBinary(col, 0).getBytes
    case DateType    => current.getInteger(col, 0) // days since epoch (parquet DATE)
    case d: DecimalType =>
      // unscaled value in INT32/INT64 (p <= 18) or big-endian bytes
      // (BINARY / FIXED_LEN_BYTE_ARRAY) per the parquet DECIMAL spec
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      fileSchema.getType(Seq(col): _*).asPrimitiveType().getPrimitiveTypeName match {
        case INT32 => Decimal(current.getInteger(col, 0).toLong, d.precision, d.scale)
        case INT64 => Decimal(current.getLong(col, 0), d.precision, d.scale)
        case _ =>
          val bytes = current.getBinary(col, 0).getBytes
          Decimal(BigDecimal(BigInt(bytes), d.scale), d.precision, d.scale)
      }
    case TimestampType =>
      val v = current.getLong(col, 0)
      tsDivisors(col) match {
        case -1L => v * 1000L // millis -> micros
        // floorDiv, not /: truncating division rounds pre-1970 nanos toward
        // zero, off by one micro vs SQL floor semantics
        case d => Math.floorDiv(v, d)
      }
    // first-class VECTOR columns (and token lists): single-level
    // array<float|double|long|int|string|boolean|binary>, decoded from the
    // standard 3-level parquet LIST (and the 2-level legacy repeated
    // encoding). Declared double over FLOAT files widens losslessly, like
    // the scalar paths. Analysis-time validation (RefTableConfig) refuses
    // anything deeper, so `other` below is unreachable for declared
    // schemas — kept as a hard stop for internal misuse.
    case ArrayType(et, _) => decodeArray(col, et)
    case other =>
      throw new UnsupportedOperationException(s"reftable: unsupported type $other for column $col")
  }

  private def decodeArray(col: String, et: DataType): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{FLOAT, INT32}
    val listType = fileSchema.getType(Seq(col): _*).asGroupType()
    val repeated = listType.getType(0)
    val outer = current.getGroup(col, 0)
    val n = outer.getFieldRepetitionCount(0)
    val arr = new Array[Any](n)
    def prim(g: org.apache.parquet.example.data.Group, idx: Int, i: Int,
        pt: org.apache.parquet.schema.PrimitiveType): Any = et match {
      case FloatType   => g.getFloat(idx, i)
      case DoubleType  =>
        if (pt.getPrimitiveTypeName == FLOAT) g.getFloat(idx, i).toDouble
        else g.getDouble(idx, i)
      case IntegerType => g.getInteger(idx, i)
      case LongType    =>
        if (pt.getPrimitiveTypeName == INT32) g.getInteger(idx, i).toLong
        else g.getLong(idx, i)
      case BooleanType => g.getBoolean(idx, i)
      case StringType  => UTF8String.fromBytes(g.getBinary(idx, i).getBytes)
      case BinaryType  => g.getBinary(idx, i).getBytes
      case other => throw new UnsupportedOperationException(
        s"reftable: unsupported array element type $other for column $col")
    }
    if (repeated.isPrimitive) {
      // 2-level legacy: repeated primitive holds the elements directly
      var i = 0
      while (i < n) { arr(i) = prim(outer, 0, i, repeated.asPrimitiveType()); i += 1 }
    } else {
      // standard 3-level: repeated group 'list' { optional element }
      val elemType = repeated.asGroupType().getType(0).asPrimitiveType()
      var i = 0
      while (i < n) {
        val eg = outer.getGroup(0, i)
        arr(i) = if (eg.getFieldRepetitionCount(0) == 0) null
          else prim(eg, 0, 0, elemType)
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  override def close(): Unit = reader.close()

  // cumulative per-reader read-volume metrics (RefTableMetrics)
  private var dvSkipped = 0L
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = Array(
    RefTableMetrics.TaskValue(RefTableMetrics.FilesRead, 1L),
    RefTableMetrics.TaskValue(RefTableMetrics.SplitBytes, partition.length),
    RefTableMetrics.TaskValue(RefTableMetrics.DvRowsSkipped, dvSkipped))
}
