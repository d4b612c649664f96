package graft.sources.reftable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.sources.Filter

/** The changefeed's diff core, shared by the streaming source's
  * changefeed read mode ([[RefTableMicroBatchStream]], which materializes
  * each generation's delta for exactly-once replay) and the batch surface
  * ([[Changefeed.between]], which returns the diff LAZILY — batch reads
  * need no replay guarantee, so the plan composes like any DataFrame).
  *
  * The diff is computed from the FILE delta of two pinned listings, not a
  * full-table join: rows of files only in the old listing and positions
  * newly deletion-vector'd form the "left" side, rows of files only in
  * the new listing the "right" side, and one key-joined
  * [[graft.operators.SnapshotDiff.diff]] over just those rows classifies
  * insert/update/delete while cancelling no-op rewrites (a compaction
  * between the two versions contributes an EMPTY delta — same rows, new
  * files, all cancelled). On manifest-delta commit chains (upsert /
  * DELETE / MoR apply) that is O(changed files + changed rows) on any
  * table size; a full physical re-publish degrades to a whole-snapshot
  * diff, which is the true change-set bound anyway.
  */
private[reftable] object ChangefeedDiff {

  /** Project a raw listing read onto the declared OUTPUT names/types
    * (rowField mapping + declared casts; partition columns already ride
    * the partitioned read).
    */
  def toOutput(opts: RefTableOptions, df: DataFrame): DataFrame =
    df.select(opts.schema.fields.map(f =>
      col(opts.storageColumn(f.name)).cast(f.dataType).as(f.name)).toIndexedSeq: _*)

  def emptyOutput(spark: SparkSession, opts: RefTableOptions): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), opts.schema)

  /** Live rows of `files` under the table's declared types; `coords`
    * keeps their file coordinates. */
  def readListing(spark: SparkSession, opts: RefTableOptions,
      files: Seq[SnapshotFile], coords: Boolean): DataFrame =
    ListingRead.readListing(spark, files, RefTableMutations.partitionTypesOf(opts), coords)

  /** The whole current snapshot as inserts — the CDF initial-load shape. */
  def bootstrap(spark: SparkSession, opts: RefTableOptions,
      curFiles: Seq[SnapshotFile]): DataFrame = {
    val body = if (curFiles.isEmpty) emptyOutput(spark, opts)
      else toOutput(opts, readListing(spark, opts, curFiles, coords = false))
    body.withColumn("change_type", lit("insert"))
  }

  /** The O(changed files) two-sided diff described in the object doc. */
  def fileDeltaDiff(spark: SparkSession, opts: RefTableOptions,
      prevFiles: Seq[SnapshotFile], curFiles: Seq[SnapshotFile]): DataFrame = {
    val prevBy = prevFiles.map(f => DeletionVectors.relOf(f.path) -> f).toMap
    val curBy = curFiles.map(f => DeletionVectors.relOf(f.path) -> f).toMap
    val removed = prevFiles.filterNot(f => curBy.contains(DeletionVectors.relOf(f.path)))
    val added = curFiles.filterNot(f => prevBy.contains(DeletionVectors.relOf(f.path)))
    // carried files whose deletion vector grew: the delta positions are
    // rows that left between the generations
    val dvDelta: Seq[(String, Seq[Long], SnapshotFile)] = prevFiles.flatMap { f =>
      val rel = DeletionVectors.relOf(f.path)
      curBy.get(rel).flatMap { cf =>
        val delta = cf.dvPositions.toSet -- f.dvPositions.toSet
        if (delta.isEmpty) None else Some((rel, delta.toSeq.sorted, f))
      }
    }
    val oldFromRemoved =
      if (removed.isEmpty) None
      // the removed files' records carry the PREVIOUS generation's DVs —
      // rows already dead then must not resurface as deletes now
      else Some(toOutput(opts, readListing(spark, opts, removed, coords = false)))
    val oldFromDv =
      if (dvDelta.isEmpty) None
      else {
        import spark.implicits._
        val pairs = dvDelta.flatMap { case (rel, ps, _) => ps.map(p => (rel, p)) }
          .toDF("__dv_file", "__dv_pos")
        val withPos = readListing(spark, opts, dvDelta.map(_._3), coords = true)
        Some(toOutput(opts, withPos.join(broadcast(pairs),
          withPos("__rel") === pairs("__dv_file") && withPos("__pos") === pairs("__dv_pos"),
          "left_semi")))
      }
    val oldSide = (oldFromRemoved.toSeq ++ oldFromDv.toSeq)
      .reduceOption(_ unionByName _).getOrElse(emptyOutput(spark, opts))
    val newSide =
      if (added.isEmpty) emptyOutput(spark, opts)
      else toOutput(opts, readListing(spark, opts, added, coords = false))
    graft.operators.SnapshotDiff.diff(oldSide, newSide, opts.keyColumns)
      .select((opts.schema.fieldNames :+ "change_type").map(col).toIndexedSeq: _*)
  }
}

/** Batch changefeed: the key-level change set BETWEEN two retained
  * versions of a versioned table, as one lazy DataFrame — the Delta
  * `table_changes(from, to)` shape, with both endpoints accepting the
  * full version-spec grammar (a version directory name, `tag:<name>`, or
  * `ts:<timestamp>` — [[VersionedTable.resolveSpec]]):
  *
  * {{{
  *   Changefeed.between(spark, Map(
  *       "path" -> root, "schema" -> "id BIGINT, v DOUBLE",
  *       "keyColumns" -> "id"),
  *     from = "tag:last-audit", to = "ts:2026-08-14")
  * }}}
  *
  * Output: the declared schema plus `change_type` ∈ insert | delete |
  * update (after-image rows; before-image for deletes). Unlike the
  * streaming changefeed (which pins generations and materializes deltas
  * for exactly-once replay), the batch read is PURE and lazy — it plans
  * the O(changed files) diff ([[ChangefeedDiff]]) and leaves execution to
  * the caller's action, so it composes with joins/aggregations like any
  * DataFrame and costs nothing until acted on.
  *
  * Reversed endpoints are allowed and give the INVERSE change set (the
  * diff that turns `to` back into `from`) — useful for audit "what would
  * a rollback undo".
  */
object Changefeed {

  /** Changes from `from` to `to` (both version specs; `to` defaults to
    * the current version). `options` is the reader-option map of the
    * reftable source — `path`, `schema`, and `keyColumns` are required;
    * `filterSql`/`rowField`/partition options compose as on any read.
    */
  def between(spark: SparkSession, options: Map[String, String],
      from: String, to: String = ""): DataFrame = {
    val withCf = options ++ Map(
      "changefeed" -> "true",
      "keyColumns" -> options.getOrElse("keyColumns",
        throw new IllegalArgumentException(
          "Changefeed.between requires 'keyColumns' (the diff join keys)")))
    val opts = RefTableOptions.from(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(withCf).asJava))
    val conf = HadoopConf()
    val fromV = VersionedTable.resolveSpec(opts.path, from, conf)
    val toV =
      if (to.isEmpty)
        VersionedTable.resolveRobust(opts.path, conf).map(p => new Path(p).getName)
          .getOrElse(throw new IllegalArgumentException(
            s"${opts.path} is not a versioned table root"))
      else VersionedTable.resolveSpec(opts.path, to, conf)
    val committed = VersionedTable.committedVersionDirs(opts.path, conf).toSet
    Seq("from" -> fromV, "to" -> toV).foreach { case (side, v) =>
      if (!committed.contains(v))
        throw new IllegalArgumentException(
          s"Changefeed.between: $side version '$v' is not a retained committed version " +
            s"of ${opts.path} (vacuumed or never committed; see VersionedTable.history)")
    }
    if (fromV == toV)
      ChangefeedDiff.emptyOutput(spark, opts)
        .withColumn("change_type", lit("insert").cast(org.apache.spark.sql.types.StringType))
    else {
      def listingOf(v: String): Seq[SnapshotFile] =
        SnapshotFiles.pruned(opts.copy(version = Some(v)), Seq.empty[Filter])
      ChangefeedDiff.fileDeltaDiff(spark, opts, listingOf(fromV), listingOf(toV))
    }
  }
}
