package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, collect_set, count, hash, lit,
  max, min, not, pmod, slice, sort_array, sum, when}
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, In, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, StructType}

/** File-granular mutations for versioned table roots: DELETE, UPDATE,
  * keyed upsert, MERGE and changefeed apply publish a NEW version in which
  * only the files that MAY contain affected rows are touched; every other
  * file of the current version is carried by REFERENCE — the new version
  * directory holds the staged files plus a `_FILES.json` manifest naming
  * the inherited ones in their original version dirs
  * ([[RefTableFileManifest]]). A 1-file delete on a 10k-file table commits
  * O(1) data files and O(1) manifest entries; before manifests every
  * mutation hard-linked/copied all carried files — O(total files)
  * filesystem metadata per commit, and real byte copies on object stores.
  * Retention is reference-counted: a version dir whose files newer
  * versions still name survives its own commit's expiry
  * ([[RefTableFileManifest.protectedDirs]]).
  *
  * One pipeline serves every DML (the Delta "find the touched files, then
  * rewrite or mark" shape): the DML derives ONE change set from one pinned
  * base — the narrowed files, the filters the commit rebase re-tests, what
  * it removes from those files (a key set, or a row edit), and the rows it
  * lands — and one write strategy, chosen once by the caller, lands it.
  * Copy-on-write rewrites the narrowed files (survivors plus new rows);
  * merge-on-read leaves them in place, marks the removed rows' positions in
  * one `_DV/` sidecar ([[DeletionVectors]]) and stages only the new rows.
  * The `*MergeOnRead` entry points are the same DMLs under the second
  * strategy.
  *
  * "May contain" comes from the publish-time statistics manifest
  * ([[RefTableStats.prune]]) — the same machinery that skips files at read
  * time decides which files a mutation must touch. On a table clustered or
  * z-ordered by the mutation's dimensions, a selective DELETE or a
  * key-local upsert touches O(matching) files; without stats (or with a
  * predicate stats can't bound) every file is conservatively touched —
  * never wrong, just not narrow.
  *
  * Readers are never endangered: mutations are ordinary publishes
  * (staged version dir + atomic pointer swap + retention), so pinned
  * generation listings keep draining the old version. Mutations are
  * read-modify-write, so like appends they arm the commit CAS
  * (`requireBase`) and run under [[VersionedTable.withConflictRetry]]:
  * each attempt derives from the resolved current and commits only if it
  * is still the latest; a lost claim re-runs from the new current —
  * concurrent mutations serialize in some order instead of silently
  * losing one.
  *
  * Partitioned layouts: mutations accept the layout's declared
  * `partitionColumns` (and optional `partitionTypes`); staged rows land
  * under their `col=value` directories (so a SET on a partition column
  * moves the row, under either strategy), carried files keep theirs, and
  * partition pruning joins stats pruning in the may-match narrowing.
  * Callers that omit the declared partition columns for a partitioned root
  * are refused ([[resolveLayout]]), so [[RefTableDml]] always threads them.
  *
  * Layout drift: carried-over files keep their clustering; REWRITTEN
  * files are written unclustered (their manifest bounds are still exact,
  * just wider), so heavy mutation traffic gradually widens skipping
  * bounds — the same drift Delta/Iceberg accept between OPTIMIZE passes.
  * [[VersionedTable.compact]] or a clustered re-publish restores the
  * layout.
  */
object RefTableMutations {

  // ===== declared-expectation gate over mutation after-images =========
  //
  // `expect.<name>` rules are enforced by every surface that LANDS rows:
  // batch INSERT, the streaming sinks — and, through gateApply below,
  // every mutation (UPDATE / MERGE / upsert / applyChanges, COW and MoR).
  // The gate runs over the AFTER-IMAGES a mutation would land:
  //  - onViolation=fail     → one census aggregation; the whole commit is
  //                           refused naming the broken rules, nothing
  //                           lands (write-audit-publish);
  //  - onViolation=drop     → the violating row's mutation is SKIPPED (an
  //                           update keeps the old image, an insert never
  //                           lands) — a mutation must never delete a row
  //                           as a side effect of a failed quality gate;
  //  - onViolation=quarantine → the violating after-image is appended to
  //                           the sibling `<path>__quarantine` table with
  //                           the broken rule names BEFORE the mutation
  //                           commits, then drop semantics apply.
  // Delete paths never consult the gate: they land no rows.

  /** Declared predicates compiled against the mutation plane: attribute
    * references (declared names) resolve through the column mapping to
    * STORAGE names and then through `image`, which supplies each storage
    * column's after-image expression. NULL outcomes violate, exactly like
    * the write surfaces ([[RefTableWrites.enforceExpectations]]).
    */
  private def gatePreds(spark: SparkSession, o: RefTableOptions,
      image: String => Column): Seq[(String, Column)] =
    o.expectations.map { case (name, pred) =>
      val parsed = spark.sessionState.sqlParser.parseExpression(pred)
      val replaced = parsed.transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          org.apache.spark.sql.graft.ColumnBridge.expression(
            image(o.storageColumn(a.name)))
      }
      name -> coalesce(org.apache.spark.sql.graft.ColumnBridge.column(replaced),
        lit(false))
    }

  /** One gate application point inside a mutation. `frame` holds the
    * candidate rows (possibly a join carrying `__`-marker columns), `cand`
    * marks the rows whose after-image would land, `image` maps each
    * storage column to its after-image expression over `frame`.
    *
    * Returns the predicate "this candidate's image passes" for the caller
    * to AND into its apply condition. fail mode returns `lit(true)` after
    * the census proves no candidate violates (or throws); quarantine
    * appends the violating images first, then behaves like drop. All
    * frames read pinned immutable version files plus the caller's source,
    * so the two passes quarantine makes are consistent by construction.
    */
  private def gateApply(spark: SparkSession, gate: Option[RefTableOptions],
      frame: => DataFrame, cand: Column, image: String => Column,
      what: String): Column =
    gate.filter(_.expectations.nonEmpty) match {
      case None => lit(true)
      case Some(o) =>
        import org.apache.spark.sql.functions.concat_ws
        val preds = gatePreds(spark, o, image)
        val passAll = preds.map(_._2).reduce(_ && _)
        o.onViolation match {
          case "drop" => passAll
          case "quarantine" =>
            val violated = frame.filter(cand && !passAll).select(
              o.schema.fields.toSeq.map(f =>
                image(o.storageColumn(f.name)).cast(f.dataType).as(f.name)) :+
                concat_ws(",",
                  preds.map { case (n, p) => when(!p, lit(n)) }: _*).as("_violated"): _*)
            if (!violated.isEmpty)
              RefTableWrites.appendVersion(RefTableWrites.quarantineOpts(o), violated)
            passAll
          case _ =>
            val cs = preds.map { case (n, p) =>
              sum(when(cand && !p, 1L).otherwise(0L)).as(n) }
            val row = frame.agg(cs.head, cs.tail: _*).first()
            val broken = preds.map(_._1).zipWithIndex.collect {
              case (n, i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
                s"$n (${row.getLong(i)} rows)" }
            if (broken.nonEmpty)
              throw new IllegalStateException(
                s"reftable: $what refused — expectation(s) violated (onViolation=fail): " +
                  broken.mkString(", "))
            lit(true)
        }
    }

  // ===== one mutation pipeline: base → change set → write strategy =====

  /** The pinned base every DML derives from: the resolved current version,
    * its listing, and its merged schema. Merged because an adopted version
    * (or one assembled by earlier mutations) can hold files predating a
    * column; a sampled schema would silently DROP those columns from
    * rewritten rows. The schema merges the listing's footers and adds the
    * declared partition columns ([[schemaAt]]), so taking it builds no
    * DataFrame and runs no job.
    */
  private final class Base(val spark: SparkSession, val root: String,
      val partitionColumns: Seq[String], val partitionTypes: Map[String, DataType]) {
    val conf: Configuration = HadoopConf()
    val current: String = resolveLayout(root, conf, partitionColumns)
    // manifest-aware listing: manifest-referenced versions resolve their
    // `_FILES.json` chain, physical ones walk the declared partition tree
    val files: Seq[SnapshotFile] = SnapshotFiles.list(current, partitionColumns)
    // the directory columns its reads take: the partition columns (string
    // unless typed) and any other column `partitionTypes` declares
    private val declared = partitionColumns.map(c => c -> pType(c, partitionTypes)).toMap ++
      partitionTypes
    lazy val schema: StructType = schemaAt(spark, root, current, files, partitionColumns, declared)
    lazy val types: Map[String, DataType] = schema.fields.map(f => f.name -> f.dataType).toMap
    lazy val popts: RefTableOptions = pruneOpts(root, schema, partitionColumns, partitionTypes)
    def version: String = new Path(current).getName

    /** Files whose partition values and stats cannot rule out `filters`. */
    def prune(filters: Seq[Filter]): Seq[SnapshotFile] =
      RefTableStats.prune(current,
        RefTablePartitioning.prune(files, popts, filters), popts, filters, conf)

    /** Live rows of `fs` (pinned deletion vectors subtracted); with
      * `coords`, their `__rel`/`__pos` file coordinates too. */
    def read(fs: Seq[SnapshotFile], coords: Boolean = false): DataFrame =
      ListingRead.readListing(spark, fs, declared, coords)
  }

  /** One DML's change over its base: the narrowed files it may touch, what
    * the commit rebase re-tests ([[Conflicts]]), which of the narrowed
    * files' live rows it removes, and the rows it lands besides — built
    * from those live rows (None when nothing was narrowed) or, for the
    * streaming writer, epoch files already written that `stage` moves into
    * the version. `source` is the DML's source rows, whose estimated size
    * sizes what it stages ([[stageRows]]).
    */
  private final case class ChangeSet(
      base: Base,
      narrowed: Seq[SnapshotFile],
      conflicts: Conflicts,
      removed: Removed,
      lands: Option[DataFrame] => Option[DataFrame] = _ => None,
      stage: Option[Path => Unit] = None,
      source: Option[DataFrame] = None)

  private sealed trait Removed
  /** Every live row whose key appears in `keys` (upsert, applyChanges). */
  private final case class ByKeys(keyCols: Seq[String], keys: DataFrame) extends Removed
  /** A row edit over the live rows (delete, update, merge). */
  private final case class ByRows(edit: DataFrame => Edit) extends Removed

  /** A row edit over `frame`, built from the narrowed files' live rows:
    * `dies` marks the rows whose old image goes, `imaged` the dying rows
    * that land an after-image, and `project` yields that image where
    * `imaged` holds and the row unchanged elsewhere.
    */
  private final case class Edit(
      frame: DataFrame, dies: Column, imaged: Option[Column], project: Seq[Column])

  /** What the commit rebase re-tests against concurrently added files. */
  private sealed trait Conflicts
  /** The read predicate's pushable filters (delete, update). */
  private final case class PredicateConflicts(filters: Seq[Filter]) extends Conflicts
  /** The source's key bounds; None = its keys are all NULL, so nothing
    * added can match (upsert, merge, applyChanges). */
  private final case class KeyConflicts(filters: Option[Seq[Filter]]) extends Conflicts
  /** The change read every file (NOT MATCHED BY SOURCE): no delta is
    * provably disjoint, so a lost claim always re-derives. */
  private case object ReadsAll extends Conflicts

  /** How a change set lands, chosen once by the caller. */
  private sealed abstract class WriteStrategy {
    def land(cs: ChangeSet, keepVersions: Int, txn: Option[RefTableWrites.Txn]): String
  }

  /** Rewrite the narrowed files: their survivors and after-images, plus the
    * landed rows, in one write; the manifest drops the narrowed files. */
  private case object CopyOnWrite extends WriteStrategy {
    def land(cs: ChangeSet, keepVersions: Int, txn: Option[RefTableWrites.Txn]): String = {
      val live = if (cs.narrowed.isEmpty) None else Some(cs.base.read(cs.narrowed))
      val rewritten = live.map(l => cs.removed match {
        case ByKeys(keyCols, keys) => l.join(keys, keyCols, "left_anti")
        case ByRows(edit) =>
          val e = edit(l)
          e.frame.filter(e.imaged.foldLeft(not(e.dies))(_ || _)).select(e.project: _*)
      })
      // the may-match subset can lack columns other files carry —
      // null-fill instead of failing (readers null-fill them too)
      val rows = (rewritten ++ cs.lands(live))
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
      publish(cs, keepVersions, txn, rewrites = true, stagesImages = false) { staging =>
        rows.foreach(stageRows(cs, _, staging, sourceBytes(cs).map(_ + narrowedBytes(cs))))
      }
    }
  }

  /** Leave the narrowed files in place: stage only the after-images and
    * landed rows, and mark the removed rows' positions (pinned deletion
    * vectors subtracted) in one `_DV/` sidecar. The commit is O(changed
    * rows), never O(narrowed file bytes); readers subtract positions,
    * [[VersionedTable.compact]] materializes.
    */
  private case object MergeOnRead extends WriteStrategy {
    def land(cs: ChangeSet, keepVersions: Int, txn: Option[RefTableWrites.Txn]): String = {
      val live = if (cs.narrowed.isEmpty) None else Some(cs.base.read(cs.narrowed, coords = true))
      val (images, dying) = cs.removed match {
        case ByKeys(keyCols, keys) =>
          (None, live.map(_.join(keys.distinct(), keyCols, "left_semi")))
        case ByRows(edit) => live.map(edit) match {
          case None => (None, None)
          case Some(e) =>
            (e.imaged.map(i => e.frame.filter(i).select(e.project: _*)),
              Some(e.frame.filter(e.dies)))
        }
      }
      val rows = (images ++ cs.lands(live))
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
      publish(cs, keepVersions, txn, rewrites = false, stagesImages = images.nonEmpty) { staging =>
        // new rows first: writeParquetMicros owns creating the staging dir
        // and refuses a pre-existing one; the sidecar goes beneath it
        // the narrowed files stay; only an edit's after-images come from
        // them, bounded (not sized) by their bytes
        rows.foreach(stageRows(cs, _, staging,
          sourceBytes(cs).map(_ + (if (images.isEmpty) BigInt(0) else narrowedBytes(cs)))))
        cs.stage.foreach(_(staging))
        // one sidecar per commit: the position set of one change is the
        // small side by construction
        dying.foreach(_.select(col("__rel").as("file"), col("__pos").as("pos"))
          .coalesce(1).write.mode("overwrite")
          .parquet(new Path(staging, DeletionVectors.DvDir).toString))
      }
    }
  }

  /** Write the rows a change set stages, `bytes` their estimated size (None
    * unknown). A flat layout's rows coalesce to n = ceil(bytes / target)
    * files, the target being Spark's own split size for a scan of `bytes`
    * ([[stagedFiles]]): a small change stages one file, a large rewrite
    * keeps a write task per core. Coalesce neither shuffles nor raises the
    * partition count, so a change never writes more files than its rows
    * have partitions, and an unknown size keeps them all. A partitioned
    * layout keeps [[VersionedTable.writeParquetMicros]]' co-location by
    * partition value.
    */
  private def stageRows(
      cs: ChangeSet, rows: DataFrame, staging: Path, bytes: Option[BigInt]): Unit = {
    val b = cs.base
    val sized = if (b.partitionColumns.nonEmpty) rows else bytes.fold(rows) { n =>
      val conf = b.spark.sessionState.conf
      val cores = conf.filesMinPartitionNum.getOrElse(
        conf.getConf(org.apache.spark.sql.internal.SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
          .getOrElse(b.spark.sparkContext.defaultParallelism))
      rows.coalesce(stagedFiles(n, conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes, cores))
    }
    VersionedTable.writeParquetMicros(sized, staging.toString, b.partitionColumns)
  }

  /** The files a change of `bytes` stages: ceil(bytes / target), the target
    * what `FilePartition.maxSplitBytes` splits a scan of `bytes` by —
    * min(maxPartitionBytes, max(openCostInBytes, bytes / cores)).
    */
  private[graft] def stagedFiles(
      bytes: BigInt, maxPartitionBytes: Long, openCostInBytes: Long, cores: Int): Int = {
    val target = (bytes / math.max(1, cores)).max(openCostInBytes).min(maxPartitionBytes).max(1)
    ((bytes + target - 1) / target).max(1).min(Int.MaxValue).toInt
  }

  /** The estimated size of a change set's source rows: 0 for none, None
    * when Spark cannot estimate it (its default size). An estimate can read
    * low (Spark sizes a Generate by its child), which only stages fewer
    * files. */
  private def sourceBytes(cs: ChangeSet): Option[BigInt] = cs.source.fold(Option(BigInt(0))) { s =>
    val est = s.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= cs.base.spark.sessionState.conf.defaultSizeInBytes) None else Some(est)
  }

  private def narrowedBytes(cs: ChangeSet): BigInt = BigInt(cs.narrowed.map(_.length).sum)

  /** The publish both strategies share: CAS on the base, a `_FILES.json`
    * delta inheriting the base's files — minus the narrowed ones when the
    * strategy `rewrites` them — and the rebase spec of [[VersionedTable.
    * RebaseSpec]]: the narrowed files are the read set (and the rewrite
    * set when `rewrites`). Predicate-local changes tolerate blind appends
    * (the Delta write-serializable rule) and conflict with a delta that
    * adds a file the predicate may match. Key-matching changes also
    * conflict with blind appends that may carry the source's keys (two
    * concurrent upserts of one new key must not both insert it), and with
    * concurrent position marks on read files (their staged images could
    * duplicate a concurrently mutated row) — as merge-on-read UPDATE does
    * (`stagesImages`). A `txn` marks the commit for exactly-once replay,
    * and a rebase re-checks it against the moved head before re-claiming.
    */
  private def publish(cs: ChangeSet, keepVersions: Int, txn: Option[RefTableWrites.Txn],
      rewrites: Boolean, stagesImages: Boolean)(populate: Path => Unit): String = {
    val b = cs.base
    val rels = relsOf(b.root, cs.narrowed, b.conf)
    def spec(keyed: Boolean, mayMatch: (String, Seq[RefTableFileManifest.Entry]) => Boolean) =
      VersionedTable.RebaseSpec(removedRel = if (rewrites) rels else Set.empty, readRel = rels,
        addedMayMatch = mayMatch, conflictOnBlindAppend = keyed,
        stagesImages = keyed || stagesImages, partitionColumns = b.partitionColumns,
        revalidate = () => !txn.exists(_.replayed(b.root, b.conf)))
    val rebase = cs.conflicts match {
      case PredicateConflicts(filters) => Some(spec(keyed = false, statsOverlap(b, filters)))
      case KeyConflicts(Some(filters)) => Some(spec(keyed = true, statsOverlap(b, filters)))
      // all-NULL source keys: an equi-join key never matches NULL
      case KeyConflicts(None) => Some(spec(keyed = true, (_, _) => false))
      case ReadsAll => None
    }
    VersionedTable.publishVia(b.root, keepVersions,
      marker = txn.map(_.marker),
      parent = Some(b.version), requireBase = true, rebase = rebase) { staging =>
      populate(staging)
      referenceRest(b.root, staging, b.current, if (rewrites) cs.narrowed else Nil,
        b.conf, b.partitionColumns)
    }
  }

  /** Run one DML: pin a base, build its change set, land it with
    * `strategy`, under the commit CAS and conflict retry (each attempt
    * re-derives from the new current).
    */
  private def mutate(spark: SparkSession, root: String, keepVersions: Int,
      partitionColumns: Seq[String], partitionTypes: Map[String, DataType],
      strategy: WriteStrategy, txn: Option[RefTableWrites.Txn] = None)(
      build: Base => ChangeSet): String =
    VersionedTable.withConflictRetry(root) { () =>
      val b = new Base(spark, root, partitionColumns, partitionTypes)
      // streaming exactly-once: base pinned BEFORE the marker check, and
      // the publish CAS requires that base — the same unsplittable
      // check-then-commit as RefTableWrites.commitAppend. A replayed epoch
      // (restart or zombie attempt) sees its own txn marker and lands nothing.
      if (txn.exists(_.replayed(b.root, b.conf))) b.version
      else strategy.land(build(b), keepVersions, txn)
    }

  /** The SQL surfaces' DELETE, UPDATE and MERGE on a table: its
    * `deleteMode`/`updateMode`/`mergeMode` picks the write strategy, and
    * its declared expectations gate the after-images.
    */
  private[reftable] def sqlDelete(
      spark: SparkSession, opts: RefTableOptions, condition: Column): String =
    onTable(spark, opts, opts.deleteMode)(deleteSet(_, condition))

  private[reftable] def sqlUpdate(spark: SparkSession, opts: RefTableOptions,
      set: Map[String, Column], condition: Column): String =
    onTable(spark, opts, opts.updateMode)(updateSet(_, set, condition, Some(opts)))

  private[reftable] def sqlMerge(spark: SparkSession, opts: RefTableOptions,
      source: DataFrame, keyCols: Seq[String],
      update: Option[(Column, Map[String, Column])], delete: Option[Column],
      insert: Option[(Column, Map[String, Column])],
      nmbsUpdate: Option[(Column, Map[String, Column])], nmbsDelete: Option[Column],
      nmbsUpdateFirst: Boolean): String =
    onTable(spark, opts, opts.mergeMode)(mergeSet(_, source, keyCols, update, delete, insert,
      Some(opts), nmbsUpdate, nmbsDelete, nmbsUpdateFirst))

  private def onTable(spark: SparkSession, opts: RefTableOptions, mode: String)(
      build: Base => ChangeSet): String =
    mutate(spark, opts.path, opts.keepVersions, opts.partitionColumns, partitionTypesOf(opts),
      if (mode == "mergeOnRead") MergeOnRead else CopyOnWrite)(build)

  /** Predicate narrowing (DELETE/UPDATE): stats and partition pruning under
    * the predicate's pushable filters, intersected on bucketed layouts with
    * the buckets its key equalities hash to.
    */
  private def narrowByPredicate(b: Base, condition: Column): (Seq[SnapshotFile], Seq[Filter]) = {
    val filters = RefTableFilters.fromPredicate(b.spark, b.schema, condition)
    val mayMatch = if (filters.isEmpty) b.files else b.prune(filters)
    (inBuckets(mayMatch, bucketsOfFilters(b, filters)), filters)
  }

  private final case class KeyNarrowing(
      empty: Boolean, narrowed: Seq[SnapshotFile], filters: Option[Seq[Filter]], row: Row)

  /** Key narrowing (upsert, MERGE, applyChanges) in ONE aggregation job over
    * `source`: its row count, `extra` aggregates the caller reads back from
    * `row` (columns 1..extra.size), each key column's [min, max], and — when
    * EVERY partition column is part of the key — the source's partition
    * values. The key bounds are sound for ANY key arity: a row matching on
    * ALL key columns falls inside every column's source bounds, so a file
    * whose stats are disjoint on ANY single key column provably hosts no
    * match. The partition values are sound only under the stated
    * condition: a file in partition p holds rows with p alone, and key
    * matching then implies partition equality. ≤64 distinct values become
    * an In filter (exact cells); more fall back to [min, max] bounds.
    * Bucketed layouts then narrow to the source's bucket ids.
    *
    * `filters` None means some key column is entirely NULL in the source:
    * an equi-join key never matches NULL, so nothing is narrowed.
    */
  private def narrowByKeys(b: Base, source: DataFrame, keyCols: Seq[String],
      extra: Seq[Column] = Nil): KeyNarrowing = {
    val pc = b.partitionColumns
    val partKeyed = pc.nonEmpty && pc.forall(keyCols.contains)
    val aggs = (count(lit(1)) +: extra) ++
      keyCols.flatMap(k => Seq(min(col(k)), max(col(k)))) ++
      (if (!partKeyed) Nil else pc.flatMap(c => Seq(min(col(c)), max(col(c)),
        slice(sort_array(collect_set(col(c))), 1, 65))))
    val row = source.agg(aggs.head, aggs.tail: _*).first()
    val keyBase = 1 + extra.size
    val per = keyCols.indices.map { i =>
      val at = keyBase + 2 * i
      if (row.isNullAt(at)) None
      else Some(Seq[Filter](GreaterThanOrEqual(keyCols(i), row.get(at)),
        LessThanOrEqual(keyCols(i), row.get(at + 1))))
    }
    if (row.getLong(0) == 0L) KeyNarrowing(empty = true, Nil, None, row)
    else if (per.exists(_.isEmpty)) KeyNarrowing(empty = false, Nil, None, row)
    else {
      val partBase = keyBase + 2 * keyCols.size
      val partFilters: Seq[Filter] = if (!partKeyed) Nil else pc.indices.flatMap { i =>
        val (lo, hi, set) = (row.get(partBase + 3 * i), row.get(partBase + 3 * i + 1),
          row.getSeq[Any](partBase + 3 * i + 2))
        if (lo == null) Nil // no non-null partition key in the source
        else if (set.size <= 64) Seq(In(pc(i), set.toArray))
        else Seq(GreaterThanOrEqual(pc(i), lo), LessThanOrEqual(pc(i), hi))
      }
      val filters = per.flatten.flatten ++ partFilters
      KeyNarrowing(empty = false,
        inBuckets(b.prune(filters), bucketsOfKeys(b, source, keyCols)), Some(filters), row)
    }
  }

  private def requireKeys(keyCols: Seq[String], cols: Seq[String]): Unit =
    require(keyCols.forall(cols.contains),
      s"key columns ${keyCols.filterNot(cols.contains).mkString(", ")} not in the table")

  private def requireColumns(what: String, source: DataFrame, cols: Seq[String]): Unit = {
    val missing = cols.filterNot(source.columns.contains)
    require(missing.isEmpty, s"$what is missing table column(s): ${missing.mkString(", ")}")
  }

  /** A live frame's table columns: everything but the file coordinates. */
  private def tableCols(live: DataFrame): Seq[String] =
    live.columns.toSeq.filterNot(c => c == "__rel" || c == "__pos")

  /** Delete rows where `condition` is TRUE (SQL DELETE semantics: rows
    * where it is NULL are kept) and publish the result as the next
    * version. Returns the new version name.
    */
  def deleteWhere(
      spark: SparkSession, root: String, condition: Column,
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty): String =
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, CopyOnWrite)(
      deleteSet(_, condition))

  /** Merge-on-read DELETE: rows where `condition` is TRUE are marked in
    * `_DV/` position sidecars instead of rewriting any data file — the
    * commit is O(deleted rows) bytes and O(1) data files regardless of
    * table size, the Delta-deletion-vector / Iceberg-position-delete
    * shape ([[DeletionVectors]]). Readers subtract positions at scan
    * time; [[VersionedTable.compact]] materializes. Same SQL NULL
    * semantics, CAS, retry, and stats/partition/bucket narrowing as the
    * COW [[deleteWhere]] (narrowing bounds the position-scan, not a
    * rewrite). Returns the new version name.
    *
    * Choose MoR for frequent selective deletes on large files (GDPR
    * erasure, retention sweeps) where COW write amplification dominates;
    * choose COW when deletes are rare or wide. Read-side cost: DV'd files
    * stay vectorized and split (positions apply as a per-batch selection
    * view), but parquet predicate pushdown is suppressed on them until
    * compaction materializes.
    */
  def deleteWhereMergeOnRead(
      spark: SparkSession, root: String, condition: Column,
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty): String =
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, MergeOnRead)(
      deleteSet(_, condition))

  /** DELETE's change set: the rows where `condition` is TRUE die (a bare
    * !cond would also drop the rows where it is NULL). */
  private def deleteSet(b: Base, condition: Column): ChangeSet = {
    val (narrowed, filters) = narrowByPredicate(b, condition)
    ChangeSet(b, narrowed, PredicateConflicts(filters), ByRows(live =>
      Edit(live, coalesce(condition, lit(false)), None, tableCols(live).map(col))))
  }

  /** Keyed MERGE (upsert): rows of `source` replace current rows with the
    * same key; keys absent from the current version are inserted. The new
    * version equals `(current ANTI JOIN source ON keys) UNION source`.
    * Publishes and returns the new version name.
    *
    * File narrowing: files whose stats range is disjoint from the source's
    * [min, max] bounds on ANY key column provably contain no matching key
    * and are carried over untouched (a match agrees on every key column,
    * so each column's bounds prune independently and the conjunction
    * compounds) — on a table clustered by (part of) its key, a key-local
    * batch rewrites O(matching) files at any key arity.
    *
    * Null-key source rows are inserted as-is (an equi-join key never
    * matches NULL); null-key current rows are always kept.
    */
  def upsert(
      spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String],
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String =
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, CopyOnWrite)(
      upsertSet(_, Left(source), keyCols, gate, "upsert"))

  /** Merge-on-read keyed UPSERT: the O(batch) commit shape for
    * CDC-apply. Matched current rows' positions go into `_DV/` sidecars
    * (one key-semi-join over only the narrowed may-match files — no file
    * is rewritten), and the WHOLE source batch stages as the new data
    * file (replacements and inserts alike). A sustained single-row-upsert
    * stream commits O(1) data files and O(1) sidecar rows per batch on
    * any table size; readers subtract, compact materializes. Partition
    * moves are free: the old image dies by position, the new image stages
    * under its own partition directory. Same key semantics (null-key
    * source rows insert, null-key current rows never match, duplicate
    * source keys stage as duplicates), same narrowing, CAS and retry.
    */
  def upsertMergeOnRead(
      spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String],
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String =
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, MergeOnRead)(
      upsertSet(_, Left(source), keyCols, gate, "upsertMergeOnRead"))

  /** Merge-on-read upsert whose new images are ALREADY parquet files (the
    * DSv2 streaming write's staged epoch): `stageImages` copies them into
    * the version staging dir, `keySource` is a key-projected read of the
    * same files used only for file narrowing and the old-position DV
    * semi-join. Same commit semantics as [[upsertMergeOnRead]], under the
    * epoch's exactly-once `txn` marker.
    */
  private[reftable] def upsertMergeOnReadStaged(
      spark: SparkSession, root: String,
      stageImages: Path => Unit, keySource: DataFrame, keyCols: Seq[String],
      keepVersions: Int, partitionColumns: Seq[String],
      partitionTypes: Map[String, DataType],
      txn: Option[RefTableWrites.Txn]): String =
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, MergeOnRead, txn)(
      upsertSet(_, Right((stageImages, keySource)), keyCols, None, "upsertMergeOnRead"))

  /** Upsert's change set: the source's keys are removed, its rows land. */
  private def upsertSet(b: Base, images: Either[DataFrame, (Path => Unit, DataFrame)],
      keyCols: Seq[String], gate: Option[RefTableOptions], what: String): ChangeSet = {
    require(keyCols.nonEmpty, s"$what needs at least one key column")
    val curCols = b.schema.fieldNames.toSeq
    requireKeys(keyCols, curCols)
    // every source row is a full after-image; a dropped (violating) row's
    // mutation is skipped entirely — its key neither updates nor inserts
    // (the staged path pre-gates in the epoch writer)
    val aligned = images.left.toOption.map { source =>
      requireColumns(s"$what source", source, curCols)
      val a0 = source.select(curCols.map(col): _*)
      materializeComputedSource(a0.filter(gateApply(b.spark, gate, a0, lit(true), col, "upsert")))
    }
    // the key projection drives narrowing and the removal; for the staged
    // path it reads ONLY the key columns of the epoch files
    val keys = images.fold(_ => aligned.get, _._2).select(keyCols.map(col): _*)
    val k = narrowByKeys(b, keys, keyCols)
    ChangeSet(b, k.narrowed, KeyConflicts(k.filters), ByKeys(keyCols, keys),
      lands = _ => aligned.filterNot(_ => k.empty), stage = images.toOption.map(_._1),
      source = aligned)
  }

  /** SQL-MERGE-shaped row-level operation with CDC ergonomics: for each
    * current row with a key match in `source`, apply `matchedDelete`
    * (drop) or else `matchedUpdate` (replace with the source row); source
    * rows with no key match insert when `notMatchedInsert` holds. All
    * three clause conditions evaluate over the SOURCE row — the
    * change-data-capture shape, where the feed itself says what to do —
    * so `source` may carry columns beyond the table schema (an op marker)
    * that never land in the table. [[applyChanges]] applies the
    * [[graft.operators.SnapshotDiff]] changefeed format directly.
    *
    * File narrowing, null-key semantics, schema handling and the commit
    * CAS are exactly [[upsert]]'s: only stats-may-match files rewrite,
    * null source keys never match (pure inserts), the source must be
    * key-unique (two source rows matching one current row apply in an
    * unspecified order — the same contract SQL MERGE enforces with an
    * error). Publishes and returns the new version name.
    */
  def merge(
      spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String],
      matchedUpdate: Option[Column] = Some(lit(true)),
      matchedDelete: Option[Column] = None,
      notMatchedInsert: Option[Column] = Some(lit(true)),
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String =
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, CopyOnWrite) { b =>
      // full-row sugar over the clause form: update/insert take the
      // source's same-named columns (source extras like an op marker are
      // ignored; a row-producing clause still demands the full table row)
      val tableCols = b.schema.fieldNames.toSeq
      if (matchedUpdate.nonEmpty || notMatchedInsert.nonEmpty)
        requireColumns("merge source", source, tableCols)
      def fullRow(c: Option[Column]): Option[(Column, Map[String, Column])] =
        c.map(cond => (cond,
          tableCols.filter(source.columns.contains).filterNot(keyCols.contains)
            .map(n => n -> col(n)).toMap)) // keys ride the join, not the map
      mergeSet(b, source, keyCols, fullRow(matchedUpdate), matchedDelete,
        fullRow(notMatchedInsert), gate, None, None, nmbsUpdateFirst = false)
    }

  /** Mutation sources are evaluated several times per commit: the
    * narrowing aggregate, the bucket narrowing, the staged write, and (MoR)
    * the DV key semi-join each plan their own scan of the source. A source
    * that is itself COMPUTED — a snapshot diff, an assignment join, an
    * aggregated changefeed — re-runs that whole computation per
    * evaluation (q222/q233's centroid-assignment encode ran 3–4× per
    * merge; a CDC apply re-ran its snapshot-diff join the same way).
    * Materialize such sources once and serve every evaluation from the
    * O(changes) intermediate — the same move Delta makes when it
    * materializes merge sources. A source that is a bare scan/projection
    * stays lazy: each evaluation is one column-PRUNED file read (the
    * narrowing aggregate reads keys only), which is cheaper than writing
    * and reading a full materialized copy.
    */
  private[reftable] def materializeComputedSource(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val computed = df.queryExecution.analyzed.exists {
      case _: Join | _: Aggregate | _: Generate | _: Window | _: Union |
           _: Deduplicate => true
      case _ => false
    }
    // lazy: no extra materialization job — the FIRST evaluation (the
    // narrowing aggregate) computes and persists the source as a side
    // effect, every later evaluation reads the persisted copy. The first
    // evaluation loses column pruning (it materializes the full row), the
    // price of serving the remaining evaluations from memory. Storage
    // primitive is [[graft.operators.Materialize.once]]'s deployment
    // policy (localCheckpoint in local mode, lineage-backed persist on a
    // cluster so an executor loss recomputes instead of failing the
    // commit).
    if (computed) graft.operators.Materialize.once(df, eager = false) else df
  }

  /** The general MERGE engine behind [[merge]] and the SQL `MERGE INTO`
    * rewrite: update and insert clauses carry explicit per-column value
    * maps (expressions over the SOURCE row). A column absent from the
    * update map keeps its target value (partial `SET`); one absent from
    * the insert map inserts NULL. Key columns cannot be updated; a SET on
    * a partition column moves the row to its new partition.
    *
    * `notMatchedBySource*` (the Delta/SQL:2023 full-sync clauses) act on
    * TARGET rows no source key matches: their conditions and SET values
    * are expressions over the TARGET row (there is no source row to
    * reference). When BOTH clause conditions hold on a row, the clause
    * DECLARED FIRST in the statement wins — SQL/Delta merge applies the
    * first matching clause in declaration order (`nmbsUpdateFirst` threads
    * the declared order; the default matches the programmatic API's
    * historical delete precedence). Either clause present forces the full
    * target into the match pass — "not matched by source" is a property
    * every file can witness, so key-bounds/partition/bucket narrowing is
    * unsound and skipped (Delta documents the same cost).
    */
  def mergeClauses(
      spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String],
      matchedUpdate: Option[(Column, Map[String, Column])],
      matchedDelete: Option[Column],
      notMatchedInsert: Option[(Column, Map[String, Column])],
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty,
      gate: Option[RefTableOptions] = None,
      notMatchedBySourceUpdate: Option[(Column, Map[String, Column])] = None,
      notMatchedBySourceDelete: Option[Column] = None,
      nmbsUpdateFirst: Boolean = false): String =
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, CopyOnWrite)(
      mergeSet(_, source, keyCols, matchedUpdate, matchedDelete, notMatchedInsert, gate,
        notMatchedBySourceUpdate, notMatchedBySourceDelete, nmbsUpdateFirst))

  /** Merge-on-read MERGE: the [[mergeClauses]] semantics in the O(changes)
    * commit shape — matched rows hit by an update or delete clause die by
    * POSITION (`_DV/` sidecar), the update clauses' new images (old row +
    * clause SETs, so partial SET keeps target values) and the insert
    * clauses' rows stage as one data file. No target file is rewritten;
    * clause conditions and values evaluate over the SOURCE row, delete
    * takes precedence over update on the same key, matched rows no clause
    * hits survive untouched — exactly the COW contract (one change set,
    * two strategies). Compaction materializes.
    */
  def mergeClausesMergeOnRead(
      spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String],
      matchedUpdate: Option[(Column, Map[String, Column])],
      matchedDelete: Option[Column],
      notMatchedInsert: Option[(Column, Map[String, Column])],
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty,
      gate: Option[RefTableOptions] = None,
      notMatchedBySourceUpdate: Option[(Column, Map[String, Column])] = None,
      notMatchedBySourceDelete: Option[Column] = None,
      nmbsUpdateFirst: Boolean = false): String =
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, MergeOnRead)(
      mergeSet(_, source, keyCols, matchedUpdate, matchedDelete, notMatchedInsert, gate,
        notMatchedBySourceUpdate, notMatchedBySourceDelete, nmbsUpdateFirst))

  /** MERGE's change set: a row edit over the narrowed live rows left-joined
    * to the source, plus the inserts. */
  private def mergeSet(b: Base, source: DataFrame, keyCols: Seq[String],
      matchedUpdate: Option[(Column, Map[String, Column])],
      matchedDelete: Option[Column],
      notMatchedInsert: Option[(Column, Map[String, Column])],
      gate: Option[RefTableOptions],
      notMatchedBySourceUpdate: Option[(Column, Map[String, Column])],
      notMatchedBySourceDelete: Option[Column],
      nmbsUpdateFirst: Boolean): ChangeSet = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    // table columns = file columns ++ DECLARED-but-unmaterialized columns
    // (schema evolution: a just-ALTERed column no committed file carries
    // yet — assignable; old files null-fill on read, new files carry it)
    val fileCols = b.schema.fieldNames.toSeq
    val declaredExtra: Seq[(String, DataType)] =
      gate.toSeq.flatMap(o => o.schema.fields.toSeq.map(f =>
        o.storageColumn(f.name) -> f.dataType))
        .filterNot { case (n, _) => fileCols.contains(n) }
    val curCols = fileCols ++ declaredExtra.map(_._1)
    val types = b.types ++ declaredExtra.toMap
    requireKeys(keyCols, curCols)
    val updSet = matchedUpdate.map(_._2).getOrElse(Map.empty)
    val insSet = notMatchedInsert.map(_._2).getOrElse(Map.empty)
    val nmbsSet = notMatchedBySourceUpdate.map(_._2).getOrElse(Map.empty)
    val badKeys = keyCols.filter(k => updSet.contains(k) || nmbsSet.contains(k))
    require(badKeys.isEmpty, s"merge cannot update key column(s) ${badKeys.mkString(", ")}")
    (updSet.keys ++ insSet.keys ++ nmbsSet.keys).find(!curCols.contains(_)).foreach(c =>
      throw new IllegalArgumentException(s"merge assigns unknown table column '$c'"))
    val nmbsActive =
      notMatchedBySourceUpdate.nonEmpty || notMatchedBySourceDelete.nonEmpty

    // clause conditions and value expressions are evaluated over the raw
    // source row BEFORE its extra columns are projected away; values cast
    // to the target column types so the rewrite never drifts the schema
    val valCols = curCols.filterNot(keyCols.contains)
    val marked = materializeComputedSource(source.select(
      keyCols.map(col) ++
        valCols.filter(updSet.contains).map(c => updSet(c).cast(types(c)).as(s"__u_$c")) ++
        curCols.filter(insSet.contains).map(c => insSet(c).cast(types(c)).as(s"__i_$c")) ++
        Seq(
          matchedUpdate.map(_._1).getOrElse(lit(false)).as("__upd"),
          matchedDelete.getOrElse(lit(false)).as("__del"),
          notMatchedInsert.map(_._1).getOrElse(lit(false)).as("__ins"),
          lit(true).as("__m")): _*))
    val (empty, narrowed, conflicts) =
      if (nmbsActive) (false, b.files, ReadsAll) // every file can hold unmatched rows
      else {
        val k = narrowByKeys(b, marked, keyCols)
        (k.empty, k.narrowed, KeyConflicts(k.filters))
      }

    // inserts: source rows no live key matches. Narrowing bounds every
    // source key, so the narrowed files' live keys are all the keys an
    // insert can collide with. Gated as full final rows (fail refuses the
    // whole commit before anything stages; quarantine appends the rejects
    // first)
    def inserts(live: Option[DataFrame]): Option[DataFrame] = if (empty) None else {
      val cand = marked.filter(col("__ins"))
      val rows = live.fold(cand)(l => cand.join(l.select(keyCols.map(col): _*), keyCols, "left_anti"))
        .select(curCols.map(c =>
          if (insSet.contains(c)) col(s"__i_$c").as(c)
          else if (keyCols.contains(c)) col(c) // join key doubles as the insert key
          else lit(null).cast(types(c)).as(c)): _*)
      Some(rows.filter(gateApply(b.spark, gate, rows, lit(true), col, "MERGE insert")))
    }

    ChangeSet(b, narrowed, conflicts, lands = inserts, source = Some(marked),
        removed = ByRows { live =>
      val liveCols = tableCols(live)
      // marked's non-key columns are all __-prefixed, so target names
      // (NMBS conditions and values) resolve unambiguously on the join
      val frame = live.join(marked, keyCols, "left_outer")
      val matched = coalesce(col("__m"), lit(false))
      val del = matched && coalesce(col("__del"), lit(false))
      // declared order decides a row BOTH NMBS conditions hit (the first
      // declared clause wins, per SQL/Delta merge semantics)
      val rawNDel = !matched && coalesce(notMatchedBySourceDelete.getOrElse(lit(false)), lit(false))
      val rawNUpd = !matched &&
        coalesce(notMatchedBySourceUpdate.map(_._1).getOrElse(lit(false)), lit(false))
      val nDel = if (nmbsUpdateFirst) rawNDel && !rawNUpd else rawNDel
      // base value for a column the narrowed files do not carry (other
      // files' columns, or a declared just-evolved one): null, like read
      def base(c: String): Column =
        if (liveCols.contains(c)) col(c) else lit(null).cast(types(c))
      val uImg: String => Column = c =>
        if (updSet.contains(c) && !keyCols.contains(c)) col(s"__u_$c") else base(c)
      val nmbsCast = nmbsSet.map { case (c, v) => c -> v.cast(types(c)) }
      val nImg: String => Column = c =>
        if (nmbsCast.contains(c) && !keyCols.contains(c)) nmbsCast(c) else base(c)
      // update images are the OLD row with the clause SETs applied; a
      // violating one is SKIPPED (the old row survives), never a silent
      // delete. Delete precedence: a deleted row never images
      val updCand = !del && matched && coalesce(col("__upd"), lit(false))
      val applies = updCand && gateApply(b.spark, gate, frame, updCand, uImg, "MERGE update")
      val nCand = !nDel && rawNUpd
      val nApplies = nCand && gateApply(
        b.spark, gate, frame, nCand, nImg, "MERGE not-matched-by-source update")
      val imaged = applies || nApplies
      // assigned columns absent from these files' schema must still be
      // emitted (null base, clause value where a clause applies)
      val assigned = curCols.filterNot(liveCols.contains)
        .filter(c => !keyCols.contains(c) && (updSet.contains(c) || nmbsCast.contains(c)))
      Edit(frame, del || nDel || imaged, Some(imaged), (liveCols ++ assigned).map { c =>
        val hasU = updSet.contains(c) && !keyCols.contains(c)
        val hasN = nmbsCast.contains(c) && !keyCols.contains(c)
        if (!hasU && !hasN) col(c)
        else when(if (hasU) applies else lit(false), uImg(c))
          .when(if (hasN) nApplies else lit(false), nImg(c))
          .otherwise(base(c)).as(c)
      })
    })
  }

  /** SQL-UPDATE semantics as a file-granular COW rewrite: rows where
    * `condition` IS TRUE get the `set` expressions applied (all right-hand
    * sides see the OLD row, per SQL); every other row — and every file the
    * stats manifest proves unaffected — is untouched. Values cast to the
    * column's type. Publishes and returns the new version name.
    */
  def updateWhere(
      spark: SparkSession, root: String, set: Map[String, Column], condition: Column,
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, CopyOnWrite)(
      updateSet(_, set, condition, gate))
  }

  /** Merge-on-read UPDATE: matched rows' old positions go into `_DV/`
    * sidecars (they disappear from every inherited file at scan time) and
    * the rewritten rows stage as a NEW data file — the commit is
    * O(matched rows), never O(may-match file bytes), the Iceberg
    * merge-on-read UPDATE shape. Same narrowing, CAS and NULL semantics
    * (WHERE NULL leaves the row untouched) as the COW [[updateWhere]]; a
    * SET on a partition column stages the new image under its new
    * partition. [[VersionedTable.compact]] materializes.
    */
  def updateWhereMergeOnRead(
      spark: SparkSession, root: String, set: Map[String, Column], condition: Column,
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String = {
    require(set.nonEmpty, "updateWhereMergeOnRead needs at least one SET column")
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, MergeOnRead)(
      updateSet(_, set, condition, gate))
  }

  /** UPDATE's change set: the hit rows die and land their after-images. */
  private def updateSet(b: Base, set: Map[String, Column], condition: Column,
      gate: Option[RefTableOptions]): ChangeSet = {
    set.keys.find(!b.types.contains(_)).foreach(c =>
      throw new IllegalArgumentException(s"UPDATE assigns unknown table column '$c'"))
    val (narrowed, filters) = narrowByPredicate(b, condition)
    val values = set.map { case (c, v) => c -> v.cast(b.types(c)) }
    ChangeSet(b, narrowed, PredicateConflicts(filters), ByRows { live =>
      val liveCols = tableCols(live)
      def base(c: String): Column =
        if (liveCols.contains(c)) col(c) else lit(null).cast(b.types(c))
      // after-image gate: a violating hit is SKIPPED (the old image
      // survives); fail censuses before any staging, quarantine appends
      // first
      val cand = coalesce(condition, lit(false))
      val hit = cand && gateApply(b.spark, gate, live, cand,
        c => values.getOrElse(c, base(c)), "UPDATE")
      Edit(live, hit, Some(hit), (liveCols ++ set.keys.filterNot(liveCols.contains)).map(c =>
        values.get(c).fold(col(c))(v => when(hit, v).otherwise(base(c)).as(c))))
    })
  }

  /** Dynamic partition overwrite (the Delta `replaceWhere`-on-partitions /
    * Spark `partitionOverwriteMode=dynamic` semantic): replace EXACTLY the
    * partitions that appear in `source` with `source`'s rows; every other
    * partition is carried by reference in the new version's manifest.
    * Commits O(touched partitions) — the daily-backfill shape, where a
    * re-run replaces one `dt=` directory of a 100 TB table without
    * touching, or even listing, the rest.
    *
    * Partition identity is value-level under the DECLARED types: a file
    * under `bucket=007` and a source row with bucket 7 name the same
    * partition when the column is numeric (same canonicalization contract
    * as [[ListingRead]]/compaction). Null partition values match the Hive
    * default-partition directory. The distinct-partition collect is
    * bounded by the number of touched partitions — the same bounded
    * driver-side class as shard offsets and codebooks.
    */
  def overwritePartitions(
      spark: SparkSession, root: String, source: DataFrame,
      partitionColumns: Seq[String],
      partitionTypes: Map[String, DataType] = Map.empty,
      keepVersions: Int = 3): String =
    VersionedTable.withConflictRetry(root) { () =>
    require(partitionColumns.nonEmpty,
      "overwritePartitions needs the layout's partitionColumns")
    val missing = partitionColumns.filterNot(source.columns.contains)
    require(missing.isEmpty,
      s"overwrite source is missing partition column(s): ${missing.mkString(", ")}")
    val b = new Base(spark, root, partitionColumns, partitionTypes)
    // dynamic overwrite REPLACES every row of the touched partitions — a
    // file written under an earlier partition spec (partition evolution)
    // isn't partition-matched by directory values, so its rows of a
    // touched partition would silently SURVIVE the overwrite. Refuse the
    // mixed layout loudly; one compact migrates it.
    val foreign = b.files.filterNot(f => partitionColumns.forall(f.partitionValues.contains))
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"reftable: dynamic partition overwrite needs every snapshot file to carry the " +
        s"current partition value(s) [${partitionColumns.mkString(", ")}], but " +
        s"${foreign.size} file(s) (e.g. ${foreign.head.path}) were written under a " +
        "different partition spec — their rows in a touched partition would silently " +
        "survive the overwrite. Rewrite them under the current spec (CALL " +
        "system.compact) first, or use INSERT OVERWRITE without dynamic mode.")
    // canonical rendering shared by both sides: source values through the
    // declared-type cast, directory strings through the same parse
    def canonTyped(v: Any): Option[String] = Option(v).map {
      case d: java.sql.Date => d.toString // yyyy-MM-dd, = LocalDate.toString
      case d: java.time.LocalDate => d.toString // java8 datetime API on
      case bd: java.math.BigDecimal => bd.toPlainString
      // timestamps canonicalize through LocalDateTime.toString on BOTH
      // sides — java.sql.Timestamp.toString ("... 00:00:00.0") and the
      // directory rendering ("... 00:00:00") would otherwise never match
      case t: java.sql.Timestamp => t.toLocalDateTime.toString
      case i: java.time.Instant => // session tz = JVM default unless overridden
        java.time.LocalDateTime.ofInstant(i, java.time.ZoneId.systemDefault()).toString
      case ldt: java.time.LocalDateTime => ldt.toString // TIMESTAMP_NTZ
      case other => other.toString
    }
    def canonRaw(raw: String, dt: DataType): Option[String] = {
      import org.apache.spark.sql.types._
      if (raw == RefTablePartitioning.HiveDefaultPartition) None
      else Some(dt match {
        case IntegerType => raw.trim.toInt.toString
        case LongType => raw.trim.toLong.toString
        case DoubleType => raw.trim.toDouble.toString
        case FloatType => raw.trim.toFloat.toString
        case BooleanType => raw.trim.toBoolean.toString
        case DateType => java.time.LocalDate.parse(raw.trim).toString
        case _: DecimalType => new java.math.BigDecimal(raw.trim).toPlainString
        case TimestampType | TimestampNTZType =>
          // dir form is "yyyy-MM-dd HH:mm:ss[.f...]" (un-escaped by the
          // lister); normalize via the same LocalDateTime.toString
          java.time.LocalDateTime.parse(raw.trim.replace(' ', 'T')).toString
        case _ => raw
      })
    }
    val touched: Set[Seq[Option[String]]] = source
      .select(partitionColumns.map(c => col(c).cast(pType(c, partitionTypes))): _*)
      .distinct().collect()
      .map(r => partitionColumns.indices.map(i => canonTyped(r.get(i))).toSeq)
      .toSet
    val replaced = b.files.filter { f =>
      // a flat-hosted file (no directory values at all — adopted/mixed
      // layouts) is never partition-matched; the Hive null-partition dir
      // canonicalizes to None and CAN match an all-null source tuple
      partitionColumns.forall(f.partitionValues.contains) &&
        touched.contains(partitionColumns.map(c =>
          canonRaw(f.partitionValues(c), pType(c, partitionTypes))))
    }
    VersionedTable.publishVia(root, keepVersions,
      parent = Some(b.version), requireBase = true,
      // dynamic overwrite: replaces whole partitions — a rebase is sound
      // unless the concurrent delta touched (rewrote, or non-blindly added
      // files into) a replaced partition. A BLIND append into one simply
      // serializes after the overwrite and survives, like any later append.
      rebase = Some(VersionedTable.RebaseSpec(
        removedRel = relsOf(root, replaced, b.conf),
        readRel = relsOf(root, replaced, b.conf),
        addedMayMatch = (_, added) => added.exists { e =>
          !partitionColumns.forall(e.pv.contains) ||
            touched.contains(partitionColumns.map(c =>
              canonRaw(e.pv(c), pType(c, partitionTypes))))
        },
        partitionColumns = partitionColumns))) { staging =>
      if (touched.nonEmpty)
        VersionedTable.writeParquetMicros(source, staging.toString, partitionColumns)
      referenceRest(root, staging, b.current, replaced, b.conf, partitionColumns)
    }
  }

  /** Apply a [[graft.operators.SnapshotDiff]]-format changefeed (value
    * columns as after-images plus `change_type` ∈ insert|delete|update) to
    * the table: the replication primitive that closes the loop from
    * [[VersionedTable.changes]] — a changefeed read off one table replays
    * onto a copy, version by version. Insert/update ops upsert (an insert
    * op whose key already exists updates it, making replay idempotent);
    * delete ops delete; a row whose `change_type` is NULL does neither.
    */
  def applyChanges(
      spark: SparkSession, root: String, changes: DataFrame, keyCols: Seq[String],
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String =
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, CopyOnWrite)(
      changesSet(_, changes, keyCols, gate))

  /** Merge-on-read changefeed apply: the replication primitive in its
    * O(changes) commit shape — ONE commit marks every changed key's old
    * position in a `_DV/` sidecar (delete, update and replayed-insert
    * keys alike; one key-semi-join over the narrowed may-match files) and
    * stages the insert/update after-images as one data file. Sustained
    * replication therefore writes O(changefeed) bytes per generation on
    * any table size, where the COW [[applyChanges]] rewrites O(may-match
    * file bytes). Same idempotent-replay semantics; compaction
    * materializes.
    */
  def applyChangesMergeOnRead(
      spark: SparkSession, root: String, changes: DataFrame, keyCols: Seq[String],
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String =
    mutate(spark, root, keepVersions, partitionColumns, partitionTypes, MergeOnRead)(
      changesSet(_, changes, keyCols, gate))

  /** applyChanges' change set: every changed key is removed, the
    * insert/update after-images land. */
  private def changesSet(b: Base, changes: DataFrame, keyCols: Seq[String],
      gate: Option[RefTableOptions]): ChangeSet = {
    require(changes.columns.contains("change_type"),
      "changefeed must carry change_type (insert|delete|update) — see SnapshotDiff.diff")
    require(keyCols.nonEmpty, "applyChanges needs at least one key column")
    val curCols = b.schema.fieldNames.toSeq
    requireKeys(keyCols, curCols)
    requireColumns("changefeed", changes, curCols)
    // a diff-computed changefeed is evaluated by the bounds aggregate, the
    // write AND the key removal — compute it once
    val once = materializeComputedSource(changes)
    val del = coalesce(col("change_type") === "delete", lit(false))
    val ups = coalesce(col("change_type") =!= "delete", lit(false))
    // one job: the upsert count beside the bounds over ALL changed keys
    // (delete keys must narrow too)
    val k = narrowByKeys(b, once, keyCols, Seq(sum(when(ups, 1L).otherwise(0L))))
    val upserts = !k.empty && !k.row.isNullAt(1) && k.row.getLong(1) > 0L
    // after-image gate over the upserts: a violating one is SKIPPED — its
    // key's old row survives and no new image lands
    val pass = ups && gateApply(b.spark, gate, once, ups, col, "applyChanges upsert")
    ChangeSet(b, k.narrowed, KeyConflicts(k.filters),
      ByKeys(keyCols, once.filter(del || pass).select(keyCols.map(col): _*)),
      lands = _ => if (!upserts) None else Some(once.filter(pass)
        .select(curCols.map(c => col(c).cast(b.types(c)).as(c)): _*)),
      source = Some(once))
  }

  /** Resolve the current version dir. With no `partitionColumns` declared,
    * refuse Hive-partitioned layouts (physical partition subdirectories OR
    * manifest entries carrying partition values) — mutating one while
    * ignoring its partition columns would silently DROP them from
    * rewritten rows. With `partitionColumns` declared, partitioned layouts
    * are first-class (see the partitioned read/write paths below).
    */
  private def resolveLayout(
      root: String, conf: Configuration, partitionColumns: Seq[String]): String = {
    // robust: a pointer transiently missing mid-swap must not read as
    // "not a versioned root" under concurrent mutations
    val current = VersionedTable.resolveRobust(root, conf).getOrElse(
      throw new IllegalArgumentException(s"$root is not a versioned table root"))
    if (partitionColumns.isEmpty) {
      val p = new Path(current)
      val fs = p.getFileSystem(conf)
      val subdirs = fs.listStatus(p).filter(s =>
        s.isDirectory && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      if (subdirs.nonEmpty)
        throw new UnsupportedOperationException(
          "this version holds partition subdirectories: pass the layout's partitionColumns " +
            s"to mutate $current (or compact to a flat layout first)")
    }
    current
  }

  /** Read options for the pruning calls: data schema extended with the
    * (typed) partition columns so partition-leaf predicates evaluate
    * exactly against directory values and data leaves against file stats.
    */
  private def pruneOpts(
      root: String, schema: StructType, partitionColumns: Seq[String],
      partitionTypes: Map[String, DataType]) = {
    val withPv = StructType(
      schema.fields ++ partitionColumns.filterNot(schema.fieldNames.contains).map(c =>
        org.apache.spark.sql.types.StructField(c, pType(c, partitionTypes))))
    RefTableOptions(path = root, schema = withPv, rowField = None, keyColumn = None,
      refreshMs = 0L, emitPerTrigger = false, genColumn = None,
      partitionColumns = partitionColumns)
  }

  private def pType(c: String, partitionTypes: Map[String, DataType]) =
    partitionTypes.getOrElse(c, org.apache.spark.sql.types.StringType)

  /** Keep the files of `buckets` (None: the layout does not apply, keep
    * all). Evaluated only when there is something to narrow. */
  private def inBuckets(files: Seq[SnapshotFile], buckets: => Option[Set[Int]]): Seq[SnapshotFile] =
    if (files.isEmpty) files
    else buckets.fold(files)(ids => files.filter(f => bucketIdOf(f.path).exists(ids.contains)))

  /** Hash-bucket narrowing for keyed mutations: when the CURRENT version is
    * a physical bucketed layout ([[Layout.Bucketed]]) whose
    * bucket columns equal the mutation's key columns, the files that may
    * contain a source key are exactly the files of the source's bucket ids
    * — `pmod(hash(keys), n)`, the same `HashPartitioning` expression the
    * writer's `repartition(n, cols)` used, read back from the staged
    * `part-NNNNN` task indices. The distinct-bucket collect is bounded by
    * the batch's bucket count. None when the layout doesn't apply (no
    * marker — e.g. any post-mutation manifest version — or different
    * columns). This is what keeps a k-key upsert on an n-bucket table at
    * ≤ k rewritten files even when the keys are scattered across the whole
    * key range (where [min,max] narrowing keeps everything).
    */
  private def bucketsOfKeys(
      b: Base, source: DataFrame, keyCols: Seq[String]): Option[Set[Int]] =
    Layout.bucketedAt(b.current, b.conf).collect {
      // hash is order-sensitive: exact match only
      case Layout.Bucketed(cols, n) if cols == keyCols && keyCols.forall(b.types.contains) =>
        // hash under the TABLE's key types, not the source's: Murmur3 is
        // type-sensitive (hash(3:int) != hash(3L:bigint)), and the writer
        // hashed the table-typed columns
        source.select(pmod(hash(keyCols.map(c => col(c).cast(b.types(c))): _*), lit(n)))
          .distinct().collect().map(_.getInt(0)).toSet
    }

  private val BucketFilePattern = "part-(\\d+)".r

  private def bucketIdOf(path: String): Option[Int] =
    BucketFilePattern.findFirstMatchIn(new Path(path).getName).map(_.group(1).toInt)

  /** Bucket narrowing for PREDICATE mutations (DELETE/UPDATE): when every
    * bucket column carries an equality (`=`, `<=>`, `IN`) conjunct, a
    * matching row can only live in the value tuples' buckets — a point
    * delete on a bucketed table rewrites one file. Values cast to the
    * table column types before hashing (the hash is type-sensitive; the
    * writer hashed the typed columns). Disjunctions and ranges return
    * None — callers keep their stats narrowing. The bucket ids come from
    * ONE one-row Spark job so literal hashing can never drift from the
    * writer's `HashPartitioning`.
    */
  private def bucketsOfFilters(b: Base, filters: Seq[Filter]): Option[Set[Int]] = {
    import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo}
    val Layout.Bucketed(cols, n) = Layout.bucketedAt(b.current, b.conf).getOrElse(return None)
    if (!cols.forall(b.types.contains)) return None
    val valuesPerCol: Seq[Seq[Any]] = cols.map { c =>
      filters.collectFirst {
        case EqualTo(a, v) if a == c => Seq(v)
        case EqualNullSafe(a, v) if a == c => Seq(v)
        case In(a, vs) if a == c => vs.toSeq
      }.getOrElse(return None)
    }
    val tuples = valuesPerCol.foldLeft(Seq(Seq.empty[Any])) { (acc, vs) =>
      acc.flatMap(t => vs.map(t :+ _))
    }
    if (tuples.isEmpty || tuples.size > 256) return None // cross-product cap
    val exprs = tuples.zipWithIndex.map { case (t, i) =>
      pmod(hash(cols.zip(t).map { case (c, v) => lit(v).cast(b.types(c)) }: _*), lit(n)).as(s"b$i")
    }
    val row = b.spark.range(1).select(exprs: _*).first()
    Some(tuples.indices.map(row.getInt).toSet)
  }

  /** Declared name→type for EVERY schema field, not just the current
    * partition columns — the map the mutation paths need to type Hive
    * directory values. Under partition evolution a mutation read meets a
    * since-removed partition column in an old file's `col=value`
    * directories, and it must come back at its DECLARED type, the one the
    * newer files' data pages carry.
    */
  def partitionTypesOf(opts: RefTableOptions): Map[String, DataType] =
    opts.schema.fields.map(f => f.name -> f.dataType).toMap

  /** The schema of version `current` from its listing `files`
    * ([[ListingRead.schemaOf]]). An empty listing holds no rows but still
    * has a schema: a partitioned write of an empty result (a DELETE that
    * removed every row) stages no file at all, so the schema comes from the
    * nearest older retained version that has files.
    */
  private[reftable] def schemaAt(
      spark: SparkSession, root: String, current: String, files: Seq[SnapshotFile],
      partitionColumns: Seq[String], declared: Map[String, DataType]): StructType =
    if (files.nonEmpty) ListingRead.schemaOf(spark, files, declared)
    else {
      val name = new Path(current).getName
      val older = VersionedTable.commitLog(root, HadoopConf()).map(_.version)
        .takeWhile(_ != name).reverse
      val fs = older.iterator.map(v => SnapshotFiles.list(new Path(root, v).toString, partitionColumns))
        .find(_.nonEmpty).getOrElse(throw new IllegalStateException(
          s"reftable: $current lists no data files and no older retained version of $root " +
            "has any, so its schema is unknown"))
      ListingRead.schemaOf(spark, fs, declared)
    }

  /** INCREMENTAL RECLUSTER — the Delta OPTIMIZE-incremental shape: carry a
    * MAXIMAL pairwise-disjoint set of files by reference (classical
    * interval scheduling over the leading cluster column's stats bands —
    * a disjoint set tiles the range at most once, read amplification ≤ 1)
    * and rewrite only the OVERLAPPING rest, re-clustered into fresh bands.
    * Cost is O(overlapping file bytes), not O(table): hot-region append
    * and mutation churn — many files piled onto a few bands — rewrites
    * just that pile. Files with missing or non-numeric bounds always
    * rewrite (nothing trustworthy proves them disjoint).
    *
    * Returns None — caller falls back to the full recluster — when the
    * table has no usable bounds, nothing needs rewriting, everything does,
    * or the PREDICTED post-rewrite amplification (carried ≤ 1 plus the
    * rewrite's own once-tiled coverage) still exceeds `maxReadAmp`:
    * full-range churn genuinely needs the full re-tile, and a partial pass
    * that cannot restore health would loop forever. The restoring publish
    * re-records the declared layout's marker (churn resets) and rides the
    * commit-rebase spec of a predicate-local COW mutation: a recluster is
    * content-neutral, so concurrent appends rebase it.
    */
  def reclusterPartial(
      spark: SparkSession, root: String, layout: Layout.Banded,
      targetFileBytes: Long = 128L * 1024 * 1024, maxReadAmp: Double = 1.5,
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil): Option[String] =
    VersionedTable.withConflictRetry(root) { () =>
      val b = new Base(spark, root, partitionColumns, Map.empty)
      val files = b.files
      if (files.size < 2) return None
      val bands = RefTableMaintenance.bands(b.current, files, layout.cols.head, b.conf)
        .getOrElse(return None)
      val bounds = bands.byFile
      // interval scheduling: sweep by upper bound, keep every file disjoint
      // from the last kept — the classical maximum non-overlapping set
      val sortedByHi = files.filter(f => bounds.contains(f.path))
        .sortBy(f => (bounds(f.path)._2, bounds(f.path)._1))
      val kept = scala.collection.mutable.Set[String]()
      var lastHi = Double.NegativeInfinity
      sortedByHi.foreach { f =>
        val (mn, mx) = bounds(f.path)
        if (mn > lastHi) { kept += f.path; lastHi = mx }
      }
      val wide = files.filterNot(f => kept.contains(f.path))
      if (wide.isEmpty || wide.size == files.size) return None
      // PREDICT the post-recluster amplification: carried files are
      // pairwise disjoint (≤ 1.0 by construction — use their true sum);
      // re-clustered rows tile their own union range once. Full-range
      // churn predicts ~2.0 and declines (missing bounds count as full
      // range, conservatively).
      val keptAmp = bands.amplification(kept)
      val wideBounds = wide.flatMap(f => bounds.get(f.path))
      val wideCoverage =
        if (wideBounds.size < wide.size) 1.0
        else (wideBounds.map(_._2).max - wideBounds.map(_._1).min) / (bands.hi - bands.lo)
      if (keptAmp + wideCoverage > maxReadAmp) return None
      val nOut = math.max(1, math.ceil(
        wide.map(_.length).sum.toDouble / targetFileBytes).toInt)
      Some(VersionedTable.publishVia(root, keepVersions, marker = layout.marker,
        parent = Some(b.version), requireBase = true,
        rebase = Some(VersionedTable.RebaseSpec(
          removedRel = relsOf(root, wide, b.conf), readRel = relsOf(root, wide, b.conf),
          partitionColumns = partitionColumns))) { staging =>
        VersionedTable.writeParquetMicros(layout.sized(nOut).arrange(b.read(wide)),
          staging.toString, partitionColumns,
          colocatePartitions = false) // range/z-order arranged by the layout
        referenceRest(root, staging, b.current, wide, b.conf, partitionColumns)
      })
    }

  /** Write the staging dir's `_FILES.json`: the new version inherits the
    * parent's files minus the rewritten (`touched`) ones, plus whatever
    * parquet the mutation staged — O(touched) manifest entries, zero
    * filesystem operations on carried files (they are named, not moved).
    * `partitionColumns` direct the staged-file listing: a partitioned
    * rewrite stages files under `col=value` subdirectories, and listing
    * them flat would silently drop the rewritten rows from the manifest.
    */
  private def referenceRest(
      root: String, staging: Path, current: String, touched: Seq[SnapshotFile],
      conf: Configuration, partitionColumns: Seq[String]): Unit =
    RefTableFileManifest.writeDelta(
      root, staging, parentVersion = new Path(current).getName,
      removedRel = relsOf(root, touched, conf),
      partitionColumns = partitionColumns, conf = conf)

  /** Root-relative spellings of a listing subset — the same relativization
    * [[referenceRest]] writes into manifests, reused for
    * [[VersionedTable.RebaseSpec]] read/write sets so the rebase conflict
    * check compares like with like.
    */
  private def relsOf(root: String, files: Seq[SnapshotFile], conf: Configuration): Set[String] = {
    val rootPath = new Path(root)
    val qualifiedRoot = rootPath.getFileSystem(conf).makeQualified(rootPath).toString
    files.map(f =>
      if (f.path.startsWith(qualifiedRoot + "/")) f.path.substring(qualifiedRoot.length + 1)
      else f.path).toSet
  }

  /** addedMayMatch hook from the mutation's own pruning filters: a
    * concurrently-added file conflicts when its stats cannot prove it
    * contains no row the mutation's read predicate matches. Empty filters
    * (unpushable predicate) fail safe to "may match" — though such a
    * mutation's read set is the whole base, so rules 1–2 refuse any
    * non-blind delta before this hook runs.
    */
  private def statsOverlap(b: Base, filters: Seq[Filter])
      : (String, Seq[RefTableFileManifest.Entry]) => Boolean =
    (headDir, added) => filters.isEmpty || {
      // qualified paths: prune's host-grouping relativizes against the
      // QUALIFIED root and fails open (= conflicts) on a mismatch
      val rootPath = new Path(b.root)
      val qualifiedRoot =
        rootPath.getFileSystem(b.conf).makeQualified(rootPath).toString
      val sfs = added.map(e =>
        SnapshotFile(s"$qualifiedRoot/${e.rel}", e.len, e.pv))
      RefTableStats.prune(headDir, sfs, b.popts, filters, b.conf).nonEmpty
    }
}
