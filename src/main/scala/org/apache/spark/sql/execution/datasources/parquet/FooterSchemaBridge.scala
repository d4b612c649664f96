package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.ThreadUtils

/** Bridge into the parquet source's private schema merge
  * (`ParquetFileFormat.readSchema` is private[parquet]): the Spark schema
  * of each footer — its recorded Spark schema when present, else the
  * converted parquet schema — merged in footer order, as a `mergeSchema`
  * read infers it, but over footers the caller already holds instead of in
  * a footer-reading job — or, for many uncached files, in that job.
  */
object FooterSchemaBridge {
  /** The merged schema, nullable as a read with it reports it; None for no
    * footers. */
  def merge(footers: Seq[Footer], spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark).map(_.asNullable)

  /** The same merge over footers read in Spark's parallel footer job, the
    * one a `mergeSchema` read runs. */
  def mergeInJob(files: Seq[FileStatus], spark: SparkSession): Option[StructType] =
    ParquetFileFormat.mergeSchemasInParallel(Map.empty, files, spark).map(_.asNullable)

  /** `f` over `in` on at most `threads` threads of a pool that lives for
    * the call (Spark's own bounded parmap), results in input order. */
  def parmap[I, O](in: Seq[I], threads: Int)(f: I => O): Seq[O] =
    ThreadUtils.parmap(in, "graft-footer", threads)(f)
}
