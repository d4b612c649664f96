package graft.sources.reftable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** The one internal read path: graft's own reads of table data — a
  * mutation's base, compaction, whole-version reads and the changefeed's
  * file-delta diff — decode a pinned listing here, through one Spark file
  * relation per set of directory columns. The relation's index serves the
  * [[SnapshotFile]]s graft already holds (path, length, partition values),
  * so no read lists a directory or discovers partitions, and a read of
  * thousands of files starts no listing job.
  *
  *  - Directory columns are the DECLARED ones a file carries: typed by the
  *    declared type and decoded the way the scan decodes them
  *    ([[RefTablePartitioning.catalystValue]]: `%xx`-unescaped at listing,
  *    the Hive default partition as NULL). A hidden-transform directory is
  *    derived, never declared, so it stays out of the rows.
  *  - Files are grouped by the declared directory columns they carry, not by
  *    the version hosting them: a column removed from the partition spec
  *    lives in old files' directories and in new files' data pages.
  *  - The data schema is the merged footer schema
  *    ([[RefTableColumnarReader.mergedSchema]]); no inference job runs.
  *  - Pinned deletion vectors are subtracted ([[DeletionVectors.applyTo]]).
  *
  * The DSv2 scan is not this path: it decodes to the declared OUTPUT types
  * (widening, nanos to micros, the `rowField` mapping), while these reads
  * serve raw storage columns that rewrites write back unchanged.
  */
private[reftable] object ListingRead {

  /** The columns a read of `files` returns: the merged footer schema, then
    * the declared directory columns no footer carries, in directory nesting
    * order. A column some files carry in data pages and others in their
    * directories takes its declared type.
    */
  def schemaOf(spark: SparkSession, files: Seq[SnapshotFile],
      declaredTypes: Map[String, DataType]): StructType = {
    val merged = RefTableColumnarReader.mergedSchema(spark, files, HadoopConf())
      .getOrElse(new StructType())
    val dirs = files.flatMap(f => nesting(f).filter(c =>
      f.partitionValues.contains(c) && declaredTypes.contains(c))).distinct
    StructType(
      merged.fields.map(f => if (dirs.contains(f.name)) f.copy(dataType = declaredTypes(f.name)) else f) ++
        dirs.filterNot(merged.fieldNames.contains).map(c => StructField(c, declaredTypes(c))))
  }

  /** Directory column names along `f`'s path, outermost first. */
  private def nesting(f: SnapshotFile): Seq[String] =
    new Path(f.path).toUri.getPath.split('/').toSeq.flatMap { seg =>
      val eq = seg.indexOf('=')
      if (eq > 0) Some(RefTablePartitioning.unescape(seg.substring(0, eq))) else None
    }

  /** Live rows of `files` (non-empty) under [[schemaOf]]; with `coords`,
    * each row also carries its `__rel`/`__pos` file coordinates.
    */
  def readListing(spark: SparkSession, files: Seq[SnapshotFile],
      declaredTypes: Map[String, DataType], coords: Boolean): DataFrame = {
    require(files.nonEmpty, "readListing needs at least one file")
    val schema = schemaOf(spark, files, declaredTypes)
    val out = (schema.fieldNames.toSeq ++ (if (coords) Seq("__rel", "__pos") else Nil)).map(col)
    files.groupBy(_.partitionValues.keySet.filter(declaredTypes.contains)).toSeq.map { case (dirs, group) =>
      val partSchema = StructType(schema.fields.filter(f => dirs.contains(f.name)))
      val relation = HadoopFsRelation(new PinnedIndex(group, partSchema), partSchema,
        StructType(schema.fields.filterNot(f => dirs.contains(f.name))), None,
        new ParquetFileFormat, Map.empty[String, String])(spark)
      val rows = org.apache.spark.sql.graft.DatasetBridge.ofRows(spark, LogicalRelation(relation))
      DeletionVectors.applyTo(spark, rows, group, coords).select(out: _*)
    }.reduce(_ union _)
  }

  /** A file index over pinned files: each file its own partition
    * directory, pruned by the partition filters Spark hands it (the scan
    * does not re-apply them).
    */
  private final class PinnedIndex(files: Seq[SnapshotFile], override val partitionSchema: StructType)
      extends FileIndex {
    private val partitions: Seq[PartitionDirectory] = files.map(f => PartitionDirectory(
      InternalRow.fromSeq(partitionSchema.fields.toSeq.map(c =>
        RefTablePartitioning.catalystValue(f.partitionValues(c.name), c.dataType))),
      Array(new FileStatus(f.length, false, 0, 0L, 0L, new Path(f.path)))))

    override def rootPaths: Seq[Path] = files.map(f => new Path(f.path))
    override def inputFiles: Array[String] = files.map(_.path).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.length).sum

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionFilters.isEmpty) partitions
      else {
        val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        partitions.filter(p => keep.eval(p.values))
      }
  }
}
