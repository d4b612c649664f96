package graft.sources.reftable

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Aggregate pushdown: COUNT / MIN / MAX answered from parquet footer
  * statistics, never touching a data page — the metadata-only fast path
  * that makes `SELECT count(*), min(k), max(k)` on a 100 TB snapshot a
  * footer sweep instead of a table scan.
  *
  * Shape: one input partition per snapshot file; each reader opens only
  * the footer and emits ONE partial row (per-file count / min / max).
  * `supportCompletePushDown` stays false, so Spark's final aggregation
  * combines the partials (sum of counts, min of mins, …) — at 100k files
  * that is 100k footer reads fanned out across the cluster and a
  * few-kilobyte shuffle.
  *
  * GROUP BY pushdown (round 18): a grouping is accepted iff every group
  * key is a DIRECTORY CONSTANT of every snapshot file — a current
  * partition column, a since-removed one still carried by the file's own
  * pv, or (round 19) `CAST(src AS DATE)` over a `days(src)` HIDDEN
  * transform, served through the transform's directory value — verified
  * per file against the pruned listing, because partition evolution makes
  * pv presence a per-file fact. (Generated columns are NOT servable: a
  * gen column is synthesized at read time — falls back to the real
  * scan.) Each file then emits ONE partial row (its directory group
  * values + its footer partials) and Spark's final aggregation merges and
  * groups them: the "daily row counts" census on a 100 TB time-partitioned
  * table becomes a footer sweep plus a kilobyte-scale shuffle, zero data
  * pages. Partial (not complete) pushdown is deliberate — multiple files
  * share a group, and merging them source-side would centralize on the
  * driver exactly the combine Spark already distributes.
  *
  * Pushed only when exact-from-metadata is guaranteed: no filters (our
  * residual-filter contract means Spark blocks aggregate pushdown itself
  * whenever a filter exists), grouping only on per-file directory
  * constants as above, and only count / count(col) / min / max over
  * numeric, boolean or date columns (string/binary stats can be truncated
  * by writers; decimals and timestamps carry representation subtleties —
  * those fall back to the normal scan).
  */
object RefTableAggregates {

  sealed trait AggSpec
  case object CountStarSpec extends AggSpec { override def toString = "COUNT(*)" }
  final case class CountSpec(col: String) extends AggSpec { override def toString = s"COUNT($col)" }
  final case class MinSpec(col: String, dt: DataType) extends AggSpec { override def toString = s"MIN($col)" }
  final case class MaxSpec(col: String, dt: DataType) extends AggSpec { override def toString = s"MAX($col)" }

  /** Types whose parquet footer min/max are exact and losslessly convert
    * to the declared Spark type.
    */
  private def statsExact(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType | BooleanType |
         DateType | ShortType | ByteType => true
    case _ => false
  }

  private def simpleCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames().length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }

  /** Storage column for an output field, if footer stats can serve it
    * (gen and partition columns have no storage chunks — not served).
    */
  private def statsColumn(opts: RefTableOptions, field: String): Option[(String, DataType)] =
    opts.schema.fields.find(_.name == field)
      .filter(_ => !opts.genColumn.contains(field) && !opts.isPartitionCol(field))
      .map(f => (opts.storageColumn(field), f.dataType))

  /** A servable group key: where the per-file constant group value comes
    * from. [[PvKey]] is a partition column (current, or since-removed but
    * still carried by the file's pv); [[DayKey]] is a `days(src)` HIDDEN
    * transform served through its directory value — the group expression
    * is `CAST(src AS DATE)`, which over a day directory is the directory's
    * own date for every row (the layout derives dirs with `to_date`; for a
    * TIMESTAMP source both sides are UTC-pinned, see [[dayCastKey]]).
    */
  sealed trait GroupKey {
    /** Output column name in the partial row. */
    def outName: String
    /** Key into the file's directory values. */
    def dirKey: String
    def dataType: DataType
  }
  final case class PvKey(field: StructField) extends GroupKey {
    def outName: String = field.name
    def dirKey: String = field.name
    def dataType: DataType = field.dataType
  }
  final case class DayKey(source: String, dirName: String) extends GroupKey {
    def outName: String = s"CAST($source AS DATE)"
    def dirKey: String = dirName
    def dataType: DataType = DateType
  }

  /** An accepted pushdown: the group keys (empty for the ungrouped
    * form) and the aggregate specs, both positional.
    */
  final case class PushedAgg(groupFields: Seq[GroupKey], specs: Seq[AggSpec])

  /** Validate a candidate aggregation; Some iff every aggregate is
    * answerable exactly from footer statistics and every group column is a
    * directory constant of EVERY file in the pruned listing (checked
    * against the listing because partition evolution makes pv presence
    * per-file; the listing is metadata-scale and plan-time repeats it
    * anyway).
    */
  /** `CAST(src AS DATE)` group expression over a `days(src)` hidden
    * transform: every row of a day directory casts to the directory's own
    * date, so the dir value IS the group value. Timezone: the layout's dir
    * derivation (`to_date`) and the pushed cast both read a TIMESTAMP
    * source under the session timezone — the layout contract pins it to
    * UTC (the pruning algebra hard-codes UTC day bands), so a TIMESTAMP
    * source is servable only in a UTC session; DATE and TIMESTAMP_NTZ
    * sources are timezone-independent.
    */
  /** True iff `tz` denotes the UTC instant line — normalized, so the
    * equivalent spellings ("UTC", "Etc/UTC", "GMT", "+00:00", "Z") all
    * qualify instead of falling back to a full scan; an unparseable id is
    * conservatively non-UTC.
    */
  private def isUtcZone(tz: String): Boolean =
    try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
    catch { case _: java.time.DateTimeException => false }

  private def dayCastKey(
      opts: RefTableOptions,
      e: org.apache.spark.sql.connector.expressions.Expression,
      sessionTz: String): Option[GroupKey] =
    e match {
      case c: org.apache.spark.sql.connector.expressions.Cast if c.dataType == DateType =>
        def tzSafe(dt: DataType): Boolean = dt match {
          case DateType | TimestampNTZType => true
          // the QUERYING session's zone, captured at scan-builder
          // construction — SparkSession.active here could be a different
          // session of the same JVM at pushdown-accept time
          case TimestampType => isUtcZone(sessionTz)
          case _ => false
        }
        for {
          src <- simpleCol(c.expression)
          day <- opts.transformFor(src).collect { case d: RefTableTransforms.Days => d }
          srcField <- opts.schema.fields.find(_.name == src)
          if tzSafe(srcField.dataType)
        } yield DayKey(src, day.dirName)
      case _ => None
    }

  def accept(opts: RefTableOptions, agg: Aggregation,
      sessionTz: String): Option[PushedAgg] = {
    val groupFields: Seq[Option[GroupKey]] = agg.groupByExpressions().toSeq.map { e =>
      simpleCol(e) match {
        case Some(n) => opts.schema.fields.find(_.name == n).map(PvKey)
        case None    => dayCastKey(opts, e, sessionTz)
      }
    }
    if (groupFields.exists(_.isEmpty)) return None
    if (groupFields.nonEmpty) {
      val keys = groupFields.flatten
      val files = SnapshotFiles.pruned(opts, Nil)
      // DIRECTORY-CONSTANT check per file: a partition column through
      // pvConst; a transform key by dir presence (files published outside
      // a Layout.Hidden publish carry no transform dir — not servable)
      val servable = keys.forall {
        case PvKey(f) =>
          files.forall(file => RefTableColumnarReader.pvConst(opts, file.partitionValues, f))
        case DayKey(_, dirName) =>
          files.forall(_.partitionValues.contains(dirName))
      }
      if (!servable) return None
    }
    val specs = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(CountStarSpec)
      case c: Count if !c.isDistinct =>
        simpleCol(c.column).flatMap(statsColumn(opts, _)).map { case (col, _) => CountSpec(col) }
      case m: Min =>
        simpleCol(m.column).flatMap(statsColumn(opts, _))
          .collect { case (col, dt) if statsExact(dt) => MinSpec(col, dt) }
      case m: Max =>
        simpleCol(m.column).flatMap(statsColumn(opts, _))
          .collect { case (col, dt) if statsExact(dt) => MaxSpec(col, dt) }
      case _ => None
    }
    if (specs.exists(_.isEmpty)) None
    else Some(PushedAgg(groupFields.flatten, specs.flatten))
  }

  /** Output schema of the partial rows: group columns FIRST (Spark's
    * pushdown rewrite binds the first `groupBy.length` attributes as the
    * group output), then the aggregate columns positionally (min/max carry
    * the declared field type, counts are longs).
    */
  def schemaOf(pushed: PushedAgg): StructType = StructType(
    pushed.groupFields.map(k => StructField(k.outName, k.dataType, nullable = true)) ++
      pushed.specs.map {
        case CountStarSpec   => StructField("count(*)", LongType, nullable = false)
        case CountSpec(c)    => StructField(s"count($c)", LongType, nullable = false)
        case MinSpec(c, dt)  => StructField(s"min($c)", dt, nullable = true)
        case MaxSpec(c, dt)  => StructField(s"max($c)", dt, nullable = true)
      })
}

class RefTableAggScan(opts: RefTableOptions, pushed: RefTableAggregates.PushedAgg)
    extends Scan {
  override def readSchema(): StructType = RefTableAggregates.schemaOf(pushed)
  override def description(): String = {
    val grp = if (pushed.groupFields.isEmpty) ""
      else s" PushedGroupBy: [${pushed.groupFields.map(_.outName).mkString(", ")}]"
    s"reftable(${opts.path}) PushedAggregates: [${pushed.specs.mkString(", ")}]$grp (footer statistics only)"
  }
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val gen = opts.generationAt(RefTableOptions.wallClock())
      // one partition per FILE (never byte ranges): a footer describes the
      // whole file, and each file must be counted exactly once. The
      // version-aware pruned listing (no filters can be pushed here)
      // keeps time-travel reads honest.
      SnapshotFiles.pruned(opts, Nil)
        .map(f => RefTableInputPartition(f.path, 0L, f.length, f.length, gen, f.partitionValues)
          : InputPartition)
        .toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new RefTableAggReaderFactory(opts, pushed, HadoopConf.broadcast(SparkSession.active))
  }
}

class RefTableAggReaderFactory(
    opts: RefTableOptions, pushed: RefTableAggregates.PushedAgg,
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RefTableAggFooterReader(opts, pushed, partition.asInstanceOf[RefTableInputPartition],
      HadoopConf.copyOf(conf))
}

/** Reads ONLY the footer of its file and emits one partial-aggregate row
  * (group columns from the file's directory values, then the partials).
  */
class RefTableAggFooterReader(
    opts: RefTableOptions, pushed: RefTableAggregates.PushedAgg,
    partition: RefTableInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {
  import RefTableAggregates._

  private val specs = pushed.specs

  private var emitted = false

  private lazy val row: InternalRow = {
    val reader = HadoopConf.openParquet(new Path(partition.path), conf)
    try {
      val footerSchema = reader.getFooter.getFileMetaData.getSchema
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      // schema evolution: a column this (older) file predates is all-null
      // by definition — count contributes 0, min/max contribute nothing
      def absent(col: String): Boolean =
        opts.allowMissingColumns && !footerSchema.containsField(col)
      // partition evolution: a column since REMOVED from the partition
      // spec exists in this (older) file only as ITS directory value —
      // exact and constant, so the aggregate is served from the pv itself
      // (min = max = the value; count is every row, or 0 for the null dir)
      def pvRaw(storageCol: String): Option[String] =
        opts.schema.fields.find(f => opts.storageColumn(f.name) == storageCol)
          .filter(f => RefTableColumnarReader.pvConst(opts, partition.partitionValues, f))
          .map(f => partition.partitionValues(f.name))
      def chunk(block: org.apache.parquet.hadoop.metadata.BlockMetaData, col: String) =
        block.getColumns.asScala.find(_.getPath.toDotString == col).getOrElse(
          throw new IllegalStateException(s"reftable: column $col missing from ${partition.path}"))
      def stats(col: String) = blocks.map { b =>
        val s = chunk(b, col).getStatistics
        if (s == null) throw new IllegalStateException(
          s"reftable: no footer statistics for $col in ${partition.path}; " +
            "rewrite the file with statistics or avoid metadata-only aggregates")
        (b.getRowCount, s)
      }
      // per-chunk min or max; None ONLY for a provably empty / all-null
      // chunk. A chunk whose min/max statistics simply weren't written
      // (stats disabled, or suppressed by parquet-mr's corrupt-statistics
      // check for legacy float writers) is indistinguishable from data —
      // silently skipping it would return a wrong answer, so it throws.
      def minMax(c: String, pickMin: Boolean): Option[Any] = {
        if (absent(c)) return None
        val parts = stats(c).flatMap { case (rows, s) =>
          if (s.hasNonNullValue) Some(if (pickMin) s.genericGetMin() else s.genericGetMax())
          else if (rows == 0L || (s.isNumNullsSet && s.getNumNulls == rows)) None
          else throw new IllegalStateException(
            s"reftable: min/max statistics missing for $c in ${partition.path}; " +
              "rewrite the file with statistics or avoid metadata-only aggregates")
        }
        if (parts.isEmpty) None
        else Some(parts.reduce((a, b) =>
          if ((a.asInstanceOf[Comparable[Any]].compareTo(b) <= 0) == pickMin) a else b))
      }
      // footer stats come back at the FILE's physical width (Integer for
      // INT32 even when the column was widened to BIGINT, Float for
      // pre-widening FLOAT files); coerce to the DECLARED type for the
      // partial row — all the accepted widenings are lossless
      def narrow(v: Any, dt: DataType): Any = dt match {
        case ShortType   => v.asInstanceOf[Number].shortValue()
        case ByteType    => v.asInstanceOf[Number].byteValue()
        case IntegerType => v.asInstanceOf[Number].intValue()
        case LongType    => v.asInstanceOf[Number].longValue()
        case DoubleType  => v match {
          case f: java.lang.Float => f.toDouble // exact float->double
          case n: Number => n.doubleValue()
        }
        case FloatType   => v.asInstanceOf[Number].floatValue()
        case _ => v
      }
      val nGroup = pushed.groupFields.length
      val out = new GenericInternalRow(nGroup + specs.length)
      // group columns: this file's directory values at the declared type
      // (null directory = SQL NULL group, exactly what the real scan would
      // feed the agg). accept() verified pv presence against ITS listing,
      // but a refresh-mode plan re-lists — a file published without the
      // group directory between accept and plan must fail loudly, not
      // NoSuchElementException mid-scan or silently mis-group
      pushed.groupFields.zipWithIndex.foreach { case (k, i) =>
        val raw = partition.partitionValues.getOrElse(k.dirKey,
          throw new IllegalStateException(
            s"reftable: file ${partition.path} carries no '${k.dirKey}' directory value; " +
              "the snapshot changed between aggregate acceptance and planning — " +
              "re-run the query (the new plan will decline the pushdown)"))
        out.update(i, RefTablePartitioning.catalystValue(raw, k.dataType))
      }
      specs.zipWithIndex.map { case (s, i) => (s, nGroup + i) }.foreach { case (spec, i) =>
        spec match {
          case CountStarSpec =>
            out.update(i, blocks.map(_.getRowCount).sum)
          case CountSpec(c) =>
            out.update(i, pvRaw(c) match {
              case Some(raw) =>
                if (raw == RefTablePartitioning.HiveDefaultPartition) 0L
                else blocks.map(_.getRowCount).sum
              case None =>
                if (absent(c)) 0L else stats(c).map { case (rows, s) =>
                  if (!s.isNumNullsSet) throw new IllegalStateException(
                    s"reftable: null counts unset for $c in ${partition.path}")
                  rows - s.getNumNulls
                }.sum
            })
          case MinSpec(c, dt) => out.update(i, pvRaw(c)
            .filter(_ => blocks.exists(_.getRowCount > 0L)) // 0-row file: no min
            .map(RefTablePartitioning.catalystValue(_, dt))
            .getOrElse(minMax(c, pickMin = true).map(narrow(_, dt)).orNull))
          case MaxSpec(c, dt) => out.update(i, pvRaw(c)
            .filter(_ => blocks.exists(_.getRowCount > 0L))
            .map(RefTablePartitioning.catalystValue(_, dt))
            .getOrElse(minMax(c, pickMin = false).map(narrow(_, dt)).orNull))
        }
      }
      out
    } finally reader.close()
  }

  override def next(): Boolean = if (emitted) false else { emitted = true; true }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
