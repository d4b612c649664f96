package graft.sources.reftable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
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
  private[reftable] def targetSplitBytes: Long = {
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
  * Every scan is columnar: [[RefTableColumnarReader]] decodes every type
  * option validation accepts (`RefTableConfig.decodable`).
  */
class RefTableReaderFactory(
    opts: RefTableOptions, required: StructType, pushed: Array[Filter],
    limit: Option[Int], conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case g: RefTableGroupedInputPartition =>
        new ChainedPartitionReader(g.splits.toIndexedSeq,
          (s: RefTableInputPartition) =>
            new RefTableColumnarReader(opts, required, pushed, s, limit, HadoopConf.copyOf(conf)))
      case p =>
        new RefTableColumnarReader(opts, required, pushed,
          p.asInstanceOf[RefTableInputPartition], limit, HadoopConf.copyOf(conf))
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw org.apache.spark.SparkException.internalError(
      "reftable: scans are columnar, there is no row reader")
}
