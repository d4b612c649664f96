package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, hash, lit, max, min, not, pmod, when}
import org.apache.spark.sql.sources.Filter

/** File-granular copy-on-write mutations for versioned table roots: DELETE
  * and keyed MERGE (upsert) publish a NEW version in which only the files
  * that MAY contain affected rows are rewritten; every other file of the
  * current version is carried by REFERENCE — the new version directory
  * holds the rewritten files plus a `_FILES.json` manifest naming the
  * inherited ones in their original version dirs
  * ([[RefTableFileManifest]]). A 1-file delete on a 10k-file table commits
  * O(1) data files and O(1) manifest entries; before manifests every
  * mutation hard-linked/copied all carried files — O(total files)
  * filesystem metadata per commit, and real byte copies on object stores.
  * Retention is reference-counted: a version dir whose files newer
  * versions still name survives its own commit's expiry
  * ([[RefTableFileManifest.protectedDirs]]).
  *
  * "May contain" comes from the publish-time statistics manifest
  * ([[RefTableStats.prune]]) — the same machinery that skips files at read
  * time decides which files a mutation must touch. On a table clustered or
  * z-ordered by the mutation's dimensions, a selective DELETE or a
  * key-local upsert rewrites O(matching) files; without stats (or with a
  * predicate stats can't bound) every file conservatively rewrites, which
  * is plain copy-on-write — never wrong, just not narrow.
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
  * `partitionColumns` (and optional `partitionTypes`); rewritten rows
  * restage under their `col=value` directories, carried files keep
  * theirs, and partition pruning joins stats pruning in the may-match
  * narrowing. Callers that omit the declared partition columns for a
  * partitioned root get a flat rewrite of the touched files — correct
  * but layout-degrading, so [[RefTableDml]] always threads them.
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
        import org.apache.spark.sql.functions.{concat_ws, sum}
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

  /** Delete rows where `condition` is TRUE (SQL DELETE semantics: rows
    * where it is NULL are kept) and publish the result as the next
    * version. Returns the new version name.
    */
  def deleteWhere(
      spark: SparkSession, root: String, condition: Column,
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty): String =
    VersionedTable.withConflictRetry(root) { () =>
    val conf = HadoopConf()
    val current = resolveLayout(root, conf, partitionColumns)
    val files = listLayout(current, partitionColumns)
    // mergeSchema: an adopted version (or one assembled by earlier
    // mutations) can hold files predating a column; the sampled-schema
    // default would silently DROP those columns from rewritten rows
    val schema = readAll(spark, root, current, files, partitionColumns, partitionTypes).schema
    val popts = pruneOpts(root, schema, partitionColumns, partitionTypes)
    val filters = RefTableFilters.fromPredicate(spark, schema, condition)
    val mayMatch0 = if (filters.isEmpty) files
      else RefTableStats.prune(current,
        RefTablePartitioning.prune(files, popts, filters), popts, filters, conf)
    // bucketed layouts: a key-equality delete narrows to the keys' buckets
    val mayMatch = if (mayMatch0.isEmpty) mayMatch0
      else bucketNarrowByFilters(spark, current, files, filters,
        schema.fields.map(f => f.name -> f.dataType).toMap, conf) match {
        case Some(keep) => mayMatch0.filter(f => keep.contains(f.path))
        case None => mayMatch0
      }
    VersionedTable.publishVia(root, keepVersions,
      parent = Some(new Path(current).getName), requireBase = true,
      rebase = Some(cowSpec(root, mayMatch, partitionColumns, filters, popts, conf))) { staging =>
      if (mayMatch.nonEmpty) {
        // keep ⇔ NOT(cond IS TRUE): rows where the predicate is NULL
        // survive a SQL DELETE, and a bare !cond would drop them
        val kept = readFiles(spark, root, mayMatch, partitionColumns, partitionTypes)
          .filter(not(coalesce(condition, lit(false))))
        VersionedTable.writeParquetMicros(kept, staging.toString, partitionColumns)
      }
      referenceRest(root, staging, current, mayMatch, conf, partitionColumns)
    }
  }

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
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty): String =
    VersionedTable.withConflictRetry(root) { () =>
    val conf = HadoopConf()
    val current = resolveLayout(root, conf, partitionColumns)
    val files = listLayout(current, partitionColumns)
    val schema = readAll(spark, root, current, files, partitionColumns, partitionTypes).schema
    val popts = pruneOpts(root, schema, partitionColumns, partitionTypes)
    val filters = RefTableFilters.fromPredicate(spark, schema, condition)
    val mayMatch0 = if (filters.isEmpty) files
      else RefTableStats.prune(current,
        RefTablePartitioning.prune(files, popts, filters), popts, filters, conf)
    val mayMatch = if (mayMatch0.isEmpty) mayMatch0
      else bucketNarrowByFilters(spark, current, files, filters,
        schema.fields.map(f => f.name -> f.dataType).toMap, conf) match {
        case Some(keep) => mayMatch0.filter(f => keep.contains(f.path))
        case None => mayMatch0
      }
    VersionedTable.publishVia(root, keepVersions,
      parent = Some(new Path(current).getName), requireBase = true,
      // MoR: removes nothing (removedRel empty — concurrent position marks
      // union against pure-DV deltas), but a concurrent REWRITE of a marked
      // file orphans our positions, so the marked set is the read set
      rebase = Some(VersionedTable.RebaseSpec(
        removedRel = Set.empty, readRel = relsOf(root, mayMatch, conf),
        addedMayMatch = statsOverlap(root, filters, popts, conf),
        partitionColumns = partitionColumns))) { staging =>
      if (mayMatch.nonEmpty) {
        // position pass over only the may-match files: rows where the
        // predicate is TRUE become (file, pos) sidecar entries (NULL
        // keeps, like SQL DELETE). Already-DV'd positions may re-mark —
        // sidecar loads deduplicate, so that is inert.
        val marked = readFilesEx(spark, root, mayMatch, partitionColumns, partitionTypes,
            withMeta = true)
          .filter(coalesce(condition, lit(false)))
          .select(col("__rel").as("file"), col("__pos").as("pos"))
        // one sidecar per commit (the position set of one delete is the
        // small side by construction; a delete wide enough to make this
        // file huge should have been COW)
        marked.coalesce(1).write.mode("overwrite")
          .parquet(new Path(staging, DeletionVectors.DvDir).toString)
      }
      // data listing unchanged: inherit every parent file; writeDelta
      // also carries the parent's existing sidecars in beside ours
      referenceRest(root, staging, current, Nil, conf, partitionColumns)
    }
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
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String =
    VersionedTable.withConflictRetry(root) { () =>
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val conf = HadoopConf()
    val current = resolveLayout(root, conf, partitionColumns)
    val files = listLayout(current, partitionColumns)
    // mergeSchema: see deleteWhere — never let a sampled schema narrow
    // the rewrite of a mixed-schema version
    val cur = readAll(spark, root, current, files, partitionColumns, partitionTypes)
    val curCols = cur.columns.toSeq
    require(keyCols.forall(curCols.contains),
      s"key columns ${keyCols.filterNot(curCols.contains).mkString(", ")} not in the table")
    val missing = curCols.filterNot(source.columns.contains)
    require(missing.isEmpty,
      s"upsert source is missing table column(s): ${missing.mkString(", ")}")
    val aligned0 = source.select(curCols.map(col): _*)
    // every source row is a full after-image; a dropped (violating) row's
    // mutation is skipped entirely — its key neither updates nor inserts
    val aligned = materializeComputedSource(aligned0.filter(
      gateApply(spark, gate, aligned0, lit(true), col, "upsert")))

    // ONE aggregation job answers emptiness AND the per-key-column bounds
    // (a separate isEmpty was a whole extra Spark job per commit —
    // sustained single-row mutation chains pay it 1:1 per upsert).
    // keyFilters also feed the rebase conflict check (concurrently-added
    // files overlapping the source's key bounds force a re-derive).
    val (empty, mayMatch, keyFilters): (Boolean, Seq[SnapshotFile], Option[Seq[Filter]]) = {
      val aggs = Seq(org.apache.spark.sql.functions.count(lit(1))) ++ keyBoundAggs(keyCols)
      val mm = aligned.agg(aggs.head, aggs.tail: _*).first()
      if (mm.getLong(0) == 0L) (true, Nil, None)
      else keyBoundFilters(keyCols, mm, 1) match {
        case None => (false, Nil, None) // a key column is all-null: pure inserts
        case Some(filters) =>
          val popts = pruneOpts(root, cur.schema, partitionColumns, partitionTypes)
          (false, RefTableStats.prune(current,
            RefTablePartitioning.prune(files, popts, filters), popts, filters, conf),
            Some(filters))
      }
    }
    // hash-bucketed layouts narrow by the source's bucket ids, intersected
    // with the stats narrowing above — scattered point keys stay O(batch)
    val narrowed =
      if (empty || mayMatch.isEmpty) mayMatch
      else bucketNarrow(current, files, aligned, keyCols,
        cur.schema.fields.map(f => f.name -> f.dataType).toMap, conf) match {
        case Some(keep) => mayMatch.filter(f => keep.contains(f.path))
        case None => mayMatch
      }
    VersionedTable.publishVia(root, keepVersions,
      parent = Some(new Path(current).getName), requireBase = true,
      rebase = Some(keyedSpec(root, narrowed, partitionColumns, keyFilters,
        pruneOpts(root, cur.schema, partitionColumns, partitionTypes), conf))) { staging =>
      val rewritten =
        if (narrowed.isEmpty) aligned
        else readFiles(spark, root, narrowed, partitionColumns, partitionTypes)
          .join(aligned.select(keyCols.map(col): _*), keyCols, "left_anti")
          // the may-match subset can lack columns other files carry —
          // null-fill instead of failing (readers null-fill them too)
          .unionByName(aligned, allowMissingColumns = true)
      if (!empty || narrowed.nonEmpty)
        VersionedTable.writeParquetMicros(rewritten, staging.toString, partitionColumns)
      referenceRest(root, staging, current, narrowed, conf, partitionColumns)
    }
  }

  /** Merge-on-read keyed UPSERT: the O(batch) commit shape for
    * CDC-apply. Matched current rows' positions go into `_DV/` sidecars
    * (one key-semi-join over only the narrowed may-match files — no file
    * is rewritten), and the WHOLE source batch stages as the new data
    * file (replacements and inserts alike). A sustained single-row-upsert
    * stream commits O(1) data files and O(1) sidecar rows per batch on
    * any table size; readers subtract, compact materializes. Unlike the
    * COW [[upsert]], partition moves are free: the old image dies by
    * position, the new image stages under its own partition directory.
    * Same key semantics (null-key source rows insert, null-key current
    * rows never match, duplicate source keys stage as duplicates), same
    * narrowing, CAS and retry.
    */
  def upsertMergeOnRead(
      spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String],
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      txn: Option[(String, Long)] = None,
      gate: Option[RefTableOptions] = None): String =
    upsertMoR(spark, root, Left(source), keyCols, keepVersions,
      partitionColumns, partitionTypes, txn, gate)

  /** Merge-on-read upsert whose new images are ALREADY parquet files (the
    * DSv2 streaming write's staged epoch): `stageImages` copies them into
    * the version staging dir, `keySource` is a key-projected read of the
    * same files used only for file narrowing and the old-position DV
    * semi-join. Same commit/marker semantics as [[upsertMergeOnRead]].
    */
  private[reftable] def upsertMergeOnReadStaged(
      spark: SparkSession, root: String,
      stageImages: Path => Unit, keySource: DataFrame, keyCols: Seq[String],
      keepVersions: Int, partitionColumns: Seq[String],
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType],
      txn: Option[(String, Long)]): String =
    upsertMoR(spark, root, Right((stageImages, keySource)), keyCols, keepVersions,
      partitionColumns, partitionTypes, txn, gate = None)

  private def upsertMoR(
      spark: SparkSession, root: String,
      images: Either[DataFrame, (Path => Unit, DataFrame)], keyCols: Seq[String],
      keepVersions: Int, partitionColumns: Seq[String],
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType],
      txn: Option[(String, Long)],
      gate: Option[RefTableOptions]): String =
    VersionedTable.withConflictRetry(root) { () =>
    require(keyCols.nonEmpty, "upsertMergeOnRead needs at least one key column")
    val conf = HadoopConf()
    val current = resolveLayout(root, conf, partitionColumns)
    // streaming exactly-once: base pinned (resolveLayout) BEFORE the marker
    // check, publish CAS requires that base — the same unsplittable
    // check-then-commit as RefTableWrites.appendVersion. A replayed epoch
    // (restart or zombie attempt) sees its own txn marker and lands nothing.
    if (txn.exists { case (a, b) =>
        RefTableWrites.lastCommittedBatch(root, a, conf).exists(_ >= b) })
      return new Path(current).getName
    val marker = txn.map { case (a, b) => s"txn:$a:$b" }
    val files = listLayout(current, partitionColumns)
    val cur = readAll(spark, root, current, files, partitionColumns, partitionTypes)
    val curCols = cur.columns.toSeq
    require(keyCols.forall(curCols.contains),
      s"key columns ${keyCols.filterNot(curCols.contains).mkString(", ")} not in the table")
    val aligned: Option[DataFrame] = images.left.toOption.map { source =>
      val missing = curCols.filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"upsertMergeOnRead source is missing table column(s): ${missing.mkString(", ")}")
      val a0 = source.select(curCols.map(col): _*)
      // full after-images: a dropped (violating) row's mutation is
      // skipped entirely (staged path pre-gates in the epoch writer)
      materializeComputedSource(
        a0.filter(gateApply(spark, gate, a0, lit(true), col, "upsert")))
    }
    // the key projection drives narrowing and the DV semi-join; for the
    // staged path it reads ONLY the key columns of the epoch files
    val keysFrame = images.fold(
      _ => aligned.get.select(keyCols.map(col): _*),
      { case (_, ks) => ks.select(keyCols.map(col): _*) })
    // same one-job emptiness + per-key-column bounds narrowing as the COW
    // upsert (any key arity)
    val (empty, mayMatch, keyFilters): (Boolean, Seq[SnapshotFile], Option[Seq[Filter]]) = {
      val aggs = Seq(org.apache.spark.sql.functions.count(lit(1))) ++ keyBoundAggs(keyCols)
      val mm = keysFrame.agg(aggs.head, aggs.tail: _*).first()
      if (mm.getLong(0) == 0L) (true, Nil, None)
      else keyBoundFilters(keyCols, mm, 1) match {
        case None => (false, Nil, None) // a key column is all-null: pure inserts
        case Some(filters) =>
          val popts = pruneOpts(root, cur.schema, partitionColumns, partitionTypes)
          (false, RefTableStats.prune(current,
            RefTablePartitioning.prune(files, popts, filters), popts, filters, conf),
            Some(filters))
      }
    }
    val narrowed =
      if (empty || mayMatch.isEmpty) mayMatch
      else bucketNarrow(current, files, keysFrame, keyCols,
        cur.schema.fields.map(f => f.name -> f.dataType).toMap, conf) match {
        case Some(keep) => mayMatch.filter(f => keep.contains(f.path))
        case None => mayMatch
      }
    VersionedTable.publishVia(root, keepVersions, marker = marker,
      parent = Some(new Path(current).getName), requireBase = true,
      // MoR upsert: marks old positions in the read files (removes
      // nothing), stages the batch as new images; a txn-marked epoch
      // re-checks its replay guard before any rebase re-claim
      rebase = Some(keyedSpec(root, narrowed, partitionColumns, keyFilters,
        pruneOpts(root, cur.schema, partitionColumns, partitionTypes), conf,
        removeTouched = false).copy(
        revalidate = () => txn.forall { case (a, b) =>
          !RefTableWrites.lastCommittedBatch(root, a, conf).exists(_ >= b) }))) { staging =>
      // the new images (and inserts): the whole aligned batch, staged once
      images.fold(
        _ => if (!empty) VersionedTable.writeParquetMicros(
          aligned.get, staging.toString, partitionColumns),
        { case (stage, _) => stage(staging) })
      if (narrowed.nonEmpty) {
        // matched OLD positions: live rows (pinned DVs subtracted) of the
        // may-match files whose key appears in the batch
        val metaAll = readFilesEx(spark, root, narrowed, partitionColumns, partitionTypes,
          withMeta = true)
        val pinned = narrowed.flatMap(f =>
          f.dvPositions.map(p => (DeletionVectors.relOf(f.path), p)))
        val live = if (pinned.isEmpty) metaAll else {
          import spark.implicits._
          val dv = pinned.toDF("__dv_file", "__dv_pos")
          metaAll.join(org.apache.spark.sql.functions.broadcast(dv),
            metaAll("__rel") === dv("__dv_file") && metaAll("__pos") === dv("__dv_pos"),
            "left_anti")
        }
        live.join(keysFrame.distinct(), keyCols, "left_semi")
          .select(col("__rel").as("file"), col("__pos").as("pos"))
          .coalesce(1).write.mode("overwrite")
          .parquet(new Path(staging, DeletionVectors.DvDir).toString)
      }
      referenceRest(root, staging, current, Nil, conf, partitionColumns)
    }
  }

  /** SQL-MERGE-shaped row-level operation with CDC ergonomics: for each
    * current row with a key match in `source`, apply `matchedDelete`
    * (drop) or else `matchedUpdate` (replace with the source row); source
    * rows with no key match insert when `notMatchedInsert` holds. All
    * three clause conditions evaluate over the SOURCE row — the
    * change-data-capture shape, where the feed itself says what to do —
    * so `source` may carry columns beyond the table schema (an op marker)
    * that never land in the table. [[applyChanges]] wires the
    * [[graft.operators.SnapshotDiff]] changefeed format straight in.
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
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String = {
    // full-row sugar over mergeClauses: update/insert take the source's
    // same-named columns (source extras like an op marker are ignored; a
    // row-producing clause still demands the full table row)
    val conf0 = HadoopConf()
    val cur0 = resolveLayout(root, conf0, partitionColumns)
    val tableCols = readAll(spark, root, cur0, listLayout(cur0, partitionColumns),
      partitionColumns, partitionTypes).schema.fieldNames.toSeq
    if (matchedUpdate.nonEmpty || notMatchedInsert.nonEmpty) {
      val missing = tableCols.filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"merge source is missing table column(s): ${missing.mkString(", ")}")
    }
    def fullRow(c: Option[Column]): Option[(Column, Map[String, Column])] =
      c.map(cond => (cond,
        tableCols.filter(source.columns.contains).filterNot(keyCols.contains)
          .map(n => n -> col(n)).toMap)) // keys ride the join, not the map
    mergeClauses(spark, root, source, keyCols,
      fullRow(matchedUpdate), matchedDelete, fullRow(notMatchedInsert), keepVersions,
      partitionColumns, partitionTypes, gate)
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

  /** Per-key-column bounds aggregates — (min, max) per key column,
    * appended after a caller's leading aggregates in one job.
    */
  private def keyBoundAggs(keyCols: Seq[String]): Seq[Column] =
    keyCols.flatMap(k => Seq(min(col(k)), max(col(k))))

  /** Decode [[keyBoundAggs]] from an aggregation `row` starting at column
    * `base`: the conjunction of per-column [min, max] range filters, sound
    * for ANY key arity — a row matching on ALL key columns falls inside
    * every column's source bounds, so a file whose stats are disjoint on
    * ANY single key column provably hosts no match. This is what keeps a
    * (tenant, id)-keyed CDC batch O(may-match files) instead of "rewrite
    * everything, conservatively". None = some key column is entirely NULL
    * in the source, i.e. no source row can match any current row (an
    * equi-join key never matches NULL) — callers skip the match pass.
    */
  private def keyBoundFilters(
      keyCols: Seq[String], row: org.apache.spark.sql.Row, base: Int)
      : Option[Seq[org.apache.spark.sql.sources.Filter]] = {
    val per = keyCols.zipWithIndex.map { case (k, i) =>
      if (row.isNullAt(base + 2 * i)) None
      else Some(Seq[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual(k, row.get(base + 2 * i)),
        org.apache.spark.sql.sources.LessThanOrEqual(k, row.get(base + 2 * i + 1))))
    }
    if (per.exists(_.isEmpty)) None else Some(per.flatten.flatten)
  }

  /** The merge family's shared file narrowing — ONE aggregation job for
    * emptiness + every pruning signal the source offers: per-key-column
    * min/max bounds (any key arity, as in [[upsert]]), and — when EVERY
    * partition column is part of the merge key — the source's partition
    * values. The latter
    * is sound ONLY under that condition: a file in partition p holds rows
    * with p alone, and key-matching then implies partition equality, so
    * files outside the source's partition values can neither match nor be
    * matched. ≤64 distinct values become an In filter (exact cells); more
    * fall back to [min,max] range bounds. Bucketed layouts narrow to the
    * source's bucket ids on top. Returns (sourceIsEmpty, narrowedFiles).
    */
  private def mergeNarrow(
      root: String, current: String, files: Seq[SnapshotFile],
      cur: DataFrame, marked: DataFrame, keyCols: Seq[String],
      partitionColumns: Seq[String],
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType],
      conf: Configuration): (Boolean, Seq[SnapshotFile], Option[Seq[Filter]]) = {
    val types = cur.schema.fields.map(f => f.name -> f.dataType).toMap
    val partKeyed = partitionColumns.nonEmpty && partitionColumns.forall(keyCols.contains)
    val aggExprs: Seq[Column] =
      Seq(org.apache.spark.sql.functions.count(lit(1))) ++
        keyBoundAggs(keyCols) ++
        (if (partKeyed) partitionColumns.flatMap(c => Seq(min(col(c)), max(col(c)),
          org.apache.spark.sql.functions.slice(
            org.apache.spark.sql.functions.sort_array(
              org.apache.spark.sql.functions.collect_set(col(c))), 1, 65))) else Nil)
    val (empty, mayMatch, srcFilters): (Boolean, Seq[SnapshotFile], Option[Seq[Filter]]) = {
      val mm = marked.agg(aggExprs.head, aggExprs.tail: _*).first()
      if (mm.getLong(0) == 0L) (true, Nil, None)
      else keyBoundFilters(keyCols, mm, 1) match {
        case None => (false, Nil, None) // a key column is all-null: pure inserts
        case Some(keyFilters) =>
          val base = 1 + 2 * keyCols.size
          val partFilters: Seq[org.apache.spark.sql.sources.Filter] =
            if (!partKeyed) Nil
            else partitionColumns.zipWithIndex.flatMap { case (c, i) =>
              val (lo, hi, set) = (mm.get(base + 3 * i), mm.get(base + 3 * i + 1),
                mm.getSeq[Any](base + 3 * i + 2))
              if (lo == null) Nil // no non-null partition key in the source
              else if (set.size <= 64) Seq(org.apache.spark.sql.sources.In(c, set.toArray))
              else Seq(
                org.apache.spark.sql.sources.GreaterThanOrEqual(c, lo),
                org.apache.spark.sql.sources.LessThanOrEqual(c, hi))
            }
          val filters = keyFilters ++ partFilters
          val popts = pruneOpts(root, cur.schema, partitionColumns, partitionTypes)
          (false, RefTableStats.prune(current,
            RefTablePartitioning.prune(files, popts, filters), popts, filters, conf),
            Some(filters))
      }
    }
    val narrowed =
      if (empty || mayMatch.isEmpty) mayMatch
      else bucketNarrow(current, files, marked, keyCols, types, conf) match {
        case Some(keep) => mayMatch.filter(f => keep.contains(f.path))
        case None => mayMatch
      }
    (empty, narrowed, srcFilters)
  }

  /** The general MERGE engine behind [[merge]] and the SQL `MERGE INTO`
    * rewrite: update and insert clauses carry explicit per-column value
    * maps (expressions over the SOURCE row). A column absent from the
    * update map keeps its target value (partial `SET`); one absent from
    * the insert map inserts NULL. Key columns cannot be updated.
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
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      gate: Option[RefTableOptions] = None,
      notMatchedBySourceUpdate: Option[(Column, Map[String, Column])] = None,
      notMatchedBySourceDelete: Option[Column] = None,
      nmbsUpdateFirst: Boolean = false): String =
    VersionedTable.withConflictRetry(root) { () =>
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val conf = HadoopConf()
    val current = resolveLayout(root, conf, partitionColumns)
    val files = listLayout(current, partitionColumns)
    val cur = readAll(spark, root, current, files, partitionColumns, partitionTypes)
    // table columns = file columns ++ DECLARED-but-unmaterialized columns
    // (schema evolution: a just-ALTERed column no committed file carries
    // yet — assignable; old files null-fill on read, new files carry it)
    val fileCols = cur.columns.toSeq
    val declaredExtra: Seq[(String, org.apache.spark.sql.types.DataType)] =
      gate.toSeq.flatMap(o => o.schema.fields.toSeq.map(f =>
        o.storageColumn(f.name) -> f.dataType))
        .filterNot { case (n, _) => fileCols.contains(n) }
    val curCols = fileCols ++ declaredExtra.map(_._1)
    val types =
      cur.schema.fields.map(f => f.name -> f.dataType).toMap ++ declaredExtra.toMap
    require(keyCols.forall(curCols.contains),
      s"key columns ${keyCols.filterNot(curCols.contains).mkString(", ")} not in the table")
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

    val (empty, narrowed, mergeFilters) =
      if (nmbsActive) (false, files, None) // every file can hold unmatched rows
      else mergeNarrow(
        root, current, files, cur, marked, keyCols, partitionColumns, partitionTypes, conf)
    // gate the after-images BEFORE staging (fail refuses the whole commit
    // with nothing written; quarantine appends the rejects first):
    // inserts are full final rows, update images are the OLD row with the
    // clause SETs applied — both exactly what would land
    val matchedFlag = coalesce(col("__m"), lit(false))
    val inserts0 = marked.filter(col("__ins"))
      .join(cur.select(keyCols.map(col): _*), keyCols, "left_anti")
      .select(curCols.map(c =>
        if (insSet.contains(c)) col(s"__i_$c").as(c)
        else if (keyCols.contains(c)) col(c) // join key doubles as the insert key
        else lit(null).cast(types(c)).as(c)): _*)
    val inserts = inserts0.filter(
      gateApply(spark, gate, inserts0, lit(true), col, "MERGE insert"))
    val rewritten =
      if (narrowed.isEmpty) inserts
      else {
        val sub = readFiles(spark, root, narrowed, partitionColumns, partitionTypes)
        val subCols = sub.columns.toSeq // may lack columns other files carry
        // NMBS conditions/values evaluate over the TARGET side of the
        // join; marked's non-key columns are all __-prefixed, so target
        // names resolve unambiguously. Declared order decides a row BOTH
        // clause conditions hit: update-first statements exempt
        // update-condition rows from the delete
        val rawNDel = coalesce(notMatchedBySourceDelete.getOrElse(lit(false)), lit(false))
        val rawNUpd = coalesce(
          notMatchedBySourceUpdate.map(_._1).getOrElse(lit(false)), lit(false))
        val nmbsDel = !matchedFlag &&
          (if (nmbsUpdateFirst) rawNDel && !rawNUpd else rawNDel)
        val joined = sub.join(marked, keyCols, "left_outer")
          .filter(not(matchedFlag && coalesce(col("__del"), lit(false))) && not(nmbsDel))
        val updCand = matchedFlag && coalesce(col("__upd"), lit(false))
        // base value for a column the narrowed files do not carry (other
        // files' columns, or a declared just-evolved one): null, like read
        def base(c: String): Column =
          if (subCols.contains(c)) col(c) else lit(null).cast(types(c))
        val uImg: String => Column = c =>
          if (updSet.contains(c) && !keyCols.contains(c)) col(s"__u_$c") else base(c)
        // a violating update is SKIPPED (old image survives), never a
        // silent delete; fail mode censuses and throws before any staging
        val applies = updCand &&
          gateApply(spark, gate, joined, updCand, uImg, "MERGE update")
        val nmbsSetCast = nmbsSet.map { case (c, v) => c -> v.cast(types(c)) }
        // delete-first rows were already filtered out above; update-first
        // keeps both-condition rows here, where the update claims them
        val nmbsCand = !matchedFlag && rawNUpd
        val nImg: String => Column = c =>
          if (nmbsSetCast.contains(c) && !keyCols.contains(c)) nmbsSetCast(c) else base(c)
        val nmbsApplies = nmbsCand && gateApply(
          spark, gate, joined, nmbsCand, nImg, "MERGE not-matched-by-source update")
        // assigned columns absent from these files' schema must still be
        // emitted (null base, clause value where a clause applies)
        val extraOut = curCols.filterNot(subCols.contains)
          .filter(c => !keyCols.contains(c) && (updSet.contains(c) || nmbsSetCast.contains(c)))
        joined.select((subCols ++ extraOut).map { c =>
            val hasU = updSet.contains(c) && !keyCols.contains(c)
            val hasN = nmbsSetCast.contains(c) && !keyCols.contains(c)
            if (!hasU && !hasN) col(c)
            else {
              var e = when(if (hasU) applies else lit(false), uImg(c))
              e = e.when(if (hasN) nmbsApplies else lit(false), nImg(c))
              e.otherwise(base(c)).as(c)
            }
          }: _*)
          // the may-match subset can lack columns other files carry —
          // null-fill instead of failing (readers null-fill them too)
          .unionByName(inserts, allowMissingColumns = true)
      }
    VersionedTable.publishVia(root, keepVersions,
      parent = Some(new Path(current).getName), requireBase = true,
      // NMBS clauses read the FULL target — no delta is provably disjoint,
      // so they keep the plain re-derive path
      rebase = if (nmbsActive) None
        else Some(keyedSpec(root, narrowed, partitionColumns, mergeFilters,
          pruneOpts(root, cur.schema, partitionColumns, partitionTypes), conf))) { staging =>
      if (!empty || narrowed.nonEmpty)
        VersionedTable.writeParquetMicros(rewritten, staging.toString, partitionColumns)
      referenceRest(root, staging, current, narrowed, conf, partitionColumns)
    }
  }

  /** Merge-on-read MERGE: the [[mergeClauses]] semantics in the O(changes)
    * commit shape — matched rows hit by an update or delete clause die by
    * POSITION (`_DV/` sidecar), the update clauses' new images (old row +
    * clause SETs, so partial SET keeps target values) and the insert
    * clauses' rows stage as one data file. No target file is rewritten;
    * clause conditions and values evaluate over the SOURCE row, delete
    * takes precedence over update on the same key, matched rows no clause
    * hits survive untouched — exactly the COW contract, verified by the
    * shared spec shapes. Compaction materializes.
    */
  def mergeClausesMergeOnRead(
      spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String],
      matchedUpdate: Option[(Column, Map[String, Column])],
      matchedDelete: Option[Column],
      notMatchedInsert: Option[(Column, Map[String, Column])],
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      gate: Option[RefTableOptions] = None,
      notMatchedBySourceUpdate: Option[(Column, Map[String, Column])] = None,
      notMatchedBySourceDelete: Option[Column] = None,
      nmbsUpdateFirst: Boolean = false): String =
    VersionedTable.withConflictRetry(root) { () =>
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val conf = HadoopConf()
    val current = resolveLayout(root, conf, partitionColumns)
    val files = listLayout(current, partitionColumns)
    val cur = readAll(spark, root, current, files, partitionColumns, partitionTypes)
    // see mergeClauses: declared-but-unmaterialized columns are assignable
    val fileCols = cur.columns.toSeq
    val declaredExtra: Seq[(String, org.apache.spark.sql.types.DataType)] =
      gate.toSeq.flatMap(o => o.schema.fields.toSeq.map(f =>
        o.storageColumn(f.name) -> f.dataType))
        .filterNot { case (n, _) => fileCols.contains(n) }
    val curCols = fileCols ++ declaredExtra.map(_._1)
    val types =
      cur.schema.fields.map(f => f.name -> f.dataType).toMap ++ declaredExtra.toMap
    require(keyCols.forall(curCols.contains),
      s"key columns ${keyCols.filterNot(curCols.contains).mkString(", ")} not in the table")
    val updSet = matchedUpdate.map(_._2).getOrElse(Map.empty)
    val insSet = notMatchedInsert.map(_._2).getOrElse(Map.empty)
    val nmbsSet = notMatchedBySourceUpdate.map(_._2).getOrElse(Map.empty)
    val badKeys = keyCols.filter(k => updSet.contains(k) || nmbsSet.contains(k))
    require(badKeys.isEmpty, s"merge cannot update key column(s) ${badKeys.mkString(", ")}")
    (updSet.keys ++ insSet.keys ++ nmbsSet.keys).find(!curCols.contains(_)).foreach(c =>
      throw new IllegalArgumentException(s"merge assigns unknown table column '$c'"))
    require(!(updSet.keys ++ nmbsSet.keys).exists(partitionColumns.contains),
      "mergeClausesMergeOnRead cannot move rows across partitions (SET on a partition " +
        "column); use the copy-on-write mergeClauses")
    val nmbsActive =
      notMatchedBySourceUpdate.nonEmpty || notMatchedBySourceDelete.nonEmpty
    val valCols = curCols.filterNot(keyCols.contains)
    val marked = materializeComputedSource(source.select(
      keyCols.map(col) ++
        valCols.filter(updSet.contains).map(c => updSet(c).cast(types(c)).as(s"__u_$c")) ++
        curCols.filter(insSet.contains).map(c => insSet(c).cast(types(c)).as(s"__i_$c")) ++
        Seq(
          matchedUpdate.map(_._1).getOrElse(lit(false)).as("__upd"),
          matchedDelete.getOrElse(lit(false)).as("__del"),
          notMatchedInsert.map(_._1).getOrElse(lit(false)).as("__ins")): _*))
    val (empty, narrowed, mergeFilters) =
      if (nmbsActive) (false, files, None) // every file can hold unmatched rows
      else mergeNarrow(
        root, current, files, cur, marked, keyCols, partitionColumns, partitionTypes, conf)
    // MoR merge rebase: marks old positions in read files (removes
    // nothing), stages images; NMBS reads the full target → no rebase
    val morMergeRebase =
      if (nmbsActive) None
      else Some(keyedSpec(root, narrowed, partitionColumns, mergeFilters,
        pruneOpts(root, cur.schema, partitionColumns, partitionTypes), conf,
        removeTouched = false))
    // after-image gate (see gateApply): fail censuses BEFORE staging,
    // quarantine appends the rejects first, drop skips the row's mutation
    // (its old POSITION must then survive too — see `dies` below)
    val inserts0 = marked.filter(col("__ins"))
      .join(cur.select(keyCols.map(col): _*), keyCols, "left_anti")
      .select(curCols.map(c =>
        if (insSet.contains(c)) col(s"__i_$c").as(c)
        else if (keyCols.contains(c)) col(c)
        else lit(null).cast(types(c)).as(c)): _*)
    val inserts = inserts0.filter(
      gateApply(spark, gate, inserts0, lit(true), col, "MERGE insert"))
    if (narrowed.isEmpty) {
      VersionedTable.publishVia(root, keepVersions,
        parent = Some(new Path(current).getName), requireBase = true,
        rebase = morMergeRebase) { staging =>
        if (!empty)
          VersionedTable.writeParquetMicros(inserts, staging.toString, partitionColumns)
        referenceRest(root, staging, current, Nil, conf, partitionColumns)
      }
    } else {
      // live rows of the may-match files, with file coordinates
      val metaAll = readFilesEx(spark, root, narrowed, partitionColumns, partitionTypes,
        withMeta = true)
      val pinned = narrowed.flatMap(f =>
        f.dvPositions.map(p => (DeletionVectors.relOf(f.path), p)))
      val live = if (pinned.isEmpty) metaAll else {
        import spark.implicits._
        val dv = pinned.toDF("__dv_file", "__dv_pos")
        metaAll.join(org.apache.spark.sql.functions.broadcast(dv),
          metaAll("__rel") === dv("__dv_file") && metaAll("__pos") === dv("__dv_pos"),
          "left_anti")
      }
      // matched rows a clause HITS (update or delete): positions die;
      // update survivors (not deleted) contribute new images built from
      // the OLD row + the clause SETs
      val hit = live.join(
        marked.filter(coalesce(col("__upd"), lit(false)) ||
          coalesce(col("__del"), lit(false))), keyCols, "inner")
      val delHit = coalesce(col("__del"), lit(false))
      val updCand = !delHit && coalesce(col("__upd"), lit(false))
      // a declared just-evolved column no live file carries: null base
      val liveCols = live.columns.toSet
      def base(c: String): Column =
        if (liveCols.contains(c)) col(c) else lit(null).cast(types(c))
      val uImg: String => Column = c =>
        if (!keyCols.contains(c) && updSet.contains(c)) col(s"__u_$c") else base(c)
      val updApplies = updCand &&
        gateApply(spark, gate, hit, updCand, uImg, "MERGE update")
      val newImages = hit.filter(updApplies)
        .select(curCols.map(c => uImg(c).as(c)): _*)
      // a skipped (violating) update neither stages a new image nor kills
      // its old position — the row survives untouched
      val dies = hit.filter(delHit || updApplies)
      // NMBS pass: live target rows with NO source key — delete kills the
      // position; update kills it AND stages the old row + target-side
      // SETs as the new image (delete precedence, like the matched side)
      val (nmbsImages, nmbsDies) = if (!nmbsActive) (None, None) else {
        val miss = live.join(marked.select(keyCols.map(col): _*), keyCols, "left_anti")
        // declared order decides a row BOTH clause conditions hit (the
        // first declared clause wins, per SQL/Delta merge semantics)
        val rawNDel = coalesce(notMatchedBySourceDelete.getOrElse(lit(false)), lit(false))
        val rawNUpd = coalesce(
          notMatchedBySourceUpdate.map(_._1).getOrElse(lit(false)), lit(false))
        val nDel = if (nmbsUpdateFirst) rawNDel && !rawNUpd else rawNDel
        val nmbsSetCast = nmbsSet.map { case (c, v) => c -> v.cast(types(c)) }
        val nCand = !nDel && rawNUpd
        val nImg: String => Column = c =>
          if (!keyCols.contains(c) && nmbsSetCast.contains(c)) nmbsSetCast(c) else base(c)
        val nApplies = nCand && gateApply(
          spark, gate, miss, nCand, nImg, "MERGE not-matched-by-source update")
        (Some(miss.filter(nApplies).select(curCols.map(c => nImg(c).as(c)): _*)),
          Some(miss.filter(nDel || nApplies)))
      }
      VersionedTable.publishVia(root, keepVersions,
        parent = Some(new Path(current).getName), requireBase = true,
        rebase = morMergeRebase) { staging =>
        VersionedTable.writeParquetMicros(
          nmbsImages.foldLeft(newImages.unionByName(inserts, allowMissingColumns = true))(
            (a, b) => a.unionByName(b, allowMissingColumns = true)),
          staging.toString, partitionColumns)
        nmbsDies.map(_.select(col("__rel").as("file"), col("__pos").as("pos")))
          .foldLeft(dies.select(col("__rel").as("file"), col("__pos").as("pos")))(
            _ unionByName _)
          .coalesce(1).write.mode("overwrite")
          .parquet(new Path(staging, DeletionVectors.DvDir).toString)
        referenceRest(root, staging, current, Nil, conf, partitionColumns)
      }
    }
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
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String =
    VersionedTable.withConflictRetry(root) { () =>
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    val conf = HadoopConf()
    val current = resolveLayout(root, conf, partitionColumns)
    val files = listLayout(current, partitionColumns)
    val schema = readAll(spark, root, current, files, partitionColumns, partitionTypes).schema
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    set.keys.find(!types.contains(_)).foreach(c =>
      throw new IllegalArgumentException(s"UPDATE assigns unknown table column '$c'"))
    val popts = pruneOpts(root, schema, partitionColumns, partitionTypes)
    val filters = RefTableFilters.fromPredicate(spark, schema, condition)
    val mayMatch0 = if (filters.isEmpty) files
      else RefTableStats.prune(current,
        RefTablePartitioning.prune(files, popts, filters), popts, filters, conf)
    // bucketed layouts: a key-equality update narrows to the keys' buckets
    val mayMatch = if (mayMatch0.isEmpty) mayMatch0
      else bucketNarrowByFilters(spark, current, files, filters, types, conf) match {
        case Some(keep) => mayMatch0.filter(f => keep.contains(f.path))
        case None => mayMatch0
      }
    // after-image gate: the image of a hit row is the row with the SETs
    // applied; a violating hit is SKIPPED (old image survives — `hit`
    // narrows), fail censuses before any staging, quarantine appends first
    val updated: Option[DataFrame] = if (mayMatch.isEmpty) None else {
      val sub = readFiles(spark, root, mayMatch, partitionColumns, partitionTypes)
      val cand = coalesce(condition, lit(false))
      val aImg: String => Column = c =>
        if (set.contains(c)) set(c).cast(types(c)) else col(c)
      val hit = cand && gateApply(spark, gate, sub, cand, aImg, "UPDATE")
      Some(sub.select(sub.columns.toSeq.map(c =>
        if (set.contains(c)) when(hit, set(c).cast(types(c))).otherwise(col(c)).as(c)
        else col(c)): _*))
    }
    VersionedTable.publishVia(root, keepVersions,
      parent = Some(new Path(current).getName), requireBase = true,
      rebase = Some(cowSpec(root, mayMatch, partitionColumns, filters, popts, conf))) { staging =>
      updated.foreach(u =>
        VersionedTable.writeParquetMicros(u, staging.toString, partitionColumns))
      referenceRest(root, staging, current, mayMatch, conf, partitionColumns)
    }
  }

  /** Merge-on-read UPDATE: matched rows' old positions go into `_DV/`
    * sidecars (they disappear from every inherited file at scan time) and
    * the rewritten rows stage as a NEW data file — the commit is
    * O(matched rows), never O(may-match file bytes), the Iceberg
    * merge-on-read UPDATE shape. Same narrowing, CAS and NULL semantics
    * (WHERE NULL leaves the row untouched) as the COW [[updateWhere]];
    * [[VersionedTable.compact]] materializes. The two passes over the
    * may-match files (positions, rewritten rows) read immutable inputs,
    * so they are consistent by construction.
    */
  def updateWhereMergeOnRead(
      spark: SparkSession, root: String, set: Map[String, Column], condition: Column,
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String =
    VersionedTable.withConflictRetry(root) { () =>
    require(set.nonEmpty, "updateWhereMergeOnRead needs at least one SET column")
    val conf = HadoopConf()
    val current = resolveLayout(root, conf, partitionColumns)
    val files = listLayout(current, partitionColumns)
    val schema = readAll(spark, root, current, files, partitionColumns, partitionTypes).schema
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    set.keys.find(!types.contains(_)).foreach(c =>
      throw new IllegalArgumentException(s"UPDATE assigns unknown table column '$c'"))
    require(!set.keys.exists(partitionColumns.contains),
      "updateWhereMergeOnRead cannot move rows across partitions (SET on a partition " +
        "column); use the copy-on-write updateWhere")
    val popts = pruneOpts(root, schema, partitionColumns, partitionTypes)
    val filters = RefTableFilters.fromPredicate(spark, schema, condition)
    val mayMatch0 = if (filters.isEmpty) files
      else RefTableStats.prune(current,
        RefTablePartitioning.prune(files, popts, filters), popts, filters, conf)
    val mayMatch = if (mayMatch0.isEmpty) mayMatch0
      else bucketNarrowByFilters(spark, current, files, filters, types, conf) match {
        case Some(keep) => mayMatch0.filter(f => keep.contains(f.path))
        case None => mayMatch0
      }
    VersionedTable.publishVia(root, keepVersions,
      parent = Some(new Path(current).getName), requireBase = true,
      // MoR update: marks positions + stages images for READ files — any
      // concurrent position mark on them could duplicate a row, so
      // stagesImages arms the strict rule-2 check
      rebase = Some(VersionedTable.RebaseSpec(
        removedRel = Set.empty, readRel = relsOf(root, mayMatch, conf),
        addedMayMatch = statsOverlap(root, filters, popts, conf),
        stagesImages = true,
        partitionColumns = partitionColumns))) { staging =>
      if (mayMatch.nonEmpty) {
        // matched = rows whose OLD image must vanish (DV) and whose NEW
        // image stages. withMeta skips DV subtraction (it needs raw
        // coordinates), so subtract the pinned positions here explicitly:
        // without it, a row deleted or updated by an EARLIER MoR commit
        // would match again and duplicate its new image.
        val metaAll = readFilesEx(spark, root, mayMatch, partitionColumns, partitionTypes,
          withMeta = true)
        val pinned = mayMatch.flatMap(f =>
          f.dvPositions.map(p => (DeletionVectors.relOf(f.path), p)))
        val meta = if (pinned.isEmpty) metaAll else {
          import spark.implicits._
          val dv = pinned.toDF("__dv_file", "__dv_pos")
          metaAll.join(org.apache.spark.sql.functions.broadcast(dv),
            metaAll("__rel") === dv("__dv_file") && metaAll("__pos") === dv("__dv_pos"),
            "left_anti")
        }
        // after-image gate: a violating hit is SKIPPED — it neither stages
        // a new image nor loses its old position (fail censuses first)
        val cand = coalesce(condition, lit(false))
        val aImg: String => Column = c =>
          if (set.contains(c)) set(c).cast(types(c)) else col(c)
        val matched = meta.filter(
          cand && gateApply(spark, gate, meta, cand, aImg, "UPDATE"))
        // new images first (writeParquetMicros owns creating the staging
        // dir and refuses a pre-existing one), then the position sidecar
        // into its subdirectory
        val rewritten = matched.select(schema.fields.map(_.name).toSeq.map(c =>
          if (set.contains(c)) set(c).cast(types(c)).as(c) else col(c)): _*)
        VersionedTable.writeParquetMicros(rewritten, staging.toString, partitionColumns)
        matched.select(col("__rel").as("file"), col("__pos").as("pos"))
          .coalesce(1).write.mode("overwrite")
          .parquet(new Path(staging, DeletionVectors.DvDir).toString)
      }
      referenceRest(root, staging, current, Nil, conf, partitionColumns)
    }
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
    * as [[readFiles]]/compaction). Null partition values match the Hive
    * default-partition directory. The distinct-partition collect is
    * bounded by the number of touched partitions — the same bounded
    * driver-side class as shard offsets and codebooks.
    */
  def overwritePartitions(
      spark: SparkSession, root: String, source: DataFrame,
      partitionColumns: Seq[String],
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      keepVersions: Int = 3): String =
    VersionedTable.withConflictRetry(root) { () =>
    require(partitionColumns.nonEmpty,
      "overwritePartitions needs the layout's partitionColumns")
    val missing = partitionColumns.filterNot(source.columns.contains)
    require(missing.isEmpty,
      s"overwrite source is missing partition column(s): ${missing.mkString(", ")}")
    val conf = HadoopConf()
    val current = resolveLayout(root, conf, partitionColumns)
    val files = listLayout(current, partitionColumns)
    // dynamic overwrite REPLACES every row of the touched partitions — a
    // file written under an earlier partition spec (partition evolution)
    // isn't partition-matched by directory values, so its rows of a
    // touched partition would silently SURVIVE the overwrite. Refuse the
    // mixed layout loudly; one compact migrates it.
    val foreign = files.filterNot(f => partitionColumns.forall(f.partitionValues.contains))
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
    def canonRaw(raw: String, dt: org.apache.spark.sql.types.DataType): Option[String] = {
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
    val replaced = files.filter { f =>
      // a flat-hosted file (no directory values at all — adopted/mixed
      // layouts) is never partition-matched; the Hive null-partition dir
      // canonicalizes to None and CAN match an all-null source tuple
      partitionColumns.forall(f.partitionValues.contains) &&
        touched.contains(partitionColumns.map(c =>
          canonRaw(f.partitionValues(c), pType(c, partitionTypes))))
    }
    VersionedTable.publishVia(root, keepVersions,
      parent = Some(new Path(current).getName), requireBase = true,
      // dynamic overwrite: replaces whole partitions — a rebase is sound
      // unless the concurrent delta touched (rewrote, or non-blindly added
      // files into) a replaced partition. A BLIND append into one simply
      // serializes after the overwrite and survives, like any later append.
      rebase = Some(VersionedTable.RebaseSpec(
        removedRel = relsOf(root, replaced, conf),
        readRel = relsOf(root, replaced, conf),
        addedMayMatch = (_, added) => added.exists { e =>
          !partitionColumns.forall(e.pv.contains) ||
            touched.contains(partitionColumns.map(c =>
              canonRaw(e.pv(c), pType(c, partitionTypes))))
        },
        partitionColumns = partitionColumns))) { staging =>
      if (touched.nonEmpty)
        VersionedTable.writeParquetMicros(source, staging.toString, partitionColumns)
      referenceRest(root, staging, current, replaced, conf, partitionColumns)
    }
  }

  /** Apply a [[graft.operators.SnapshotDiff]]-format changefeed (value
    * columns as after-images plus `change_type` ∈ insert|delete|update) to
    * the table: the replication primitive that closes the loop from
    * [[VersionedTable.changes]] — a changefeed read off one table replays
    * onto a copy, version by version. Insert/update ops upsert (an insert
    * op whose key already exists updates it, making replay idempotent);
    * delete ops delete.
    */
  def applyChanges(
      spark: SparkSession, root: String, changes: DataFrame, keyCols: Seq[String],
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String = {
    require(changes.columns.contains("change_type"),
      "changefeed must carry change_type (insert|delete|update) — see SnapshotDiff.diff")
    merge(spark, root, changes, keyCols,
      matchedUpdate = Some(col("change_type") =!= "delete"),
      matchedDelete = Some(col("change_type") === "delete"),
      notMatchedInsert = Some(col("change_type") =!= "delete"),
      keepVersions = keepVersions, partitionColumns = partitionColumns,
      partitionTypes = partitionTypes, gate = gate)
  }

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
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      gate: Option[RefTableOptions] = None): String =
    VersionedTable.withConflictRetry(root) { () =>
    require(changes.columns.contains("change_type"),
      "changefeed must carry change_type (insert|delete|update) — see SnapshotDiff.diff")
    require(keyCols.nonEmpty, "applyChangesMergeOnRead needs at least one key column")
    val conf = HadoopConf()
    val current = resolveLayout(root, conf, partitionColumns)
    val files = listLayout(current, partitionColumns)
    val cur = readAll(spark, root, current, files, partitionColumns, partitionTypes)
    val curCols = cur.columns.toSeq
    require(keyCols.forall(curCols.contains),
      s"key columns ${keyCols.filterNot(curCols.contains).mkString(", ")} not in the table")
    val missing0 = curCols.filterNot(changes.columns.contains)
    require(missing0.isEmpty,
      s"changefeed is missing table column(s): ${missing0.mkString(", ")}")
    // a diff-computed changefeed is evaluated by the bounds aggregate, the
    // staged write AND the DV semi-join below — compute it once
    val changesOnce = materializeComputedSource(changes)
    val ct = col("change_type")
    // one job: total, upsert count, and per-key-column bounds over ALL
    // changed keys (any key arity) — delete keys must narrow too
    val (total, nUpserts, mayMatch, cdcFilters):
        (Long, Long, Seq[SnapshotFile], Option[Seq[Filter]]) = {
      val aggs = Seq(
        org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.sum(when(ct =!= "delete", 1L).otherwise(0L))) ++
        keyBoundAggs(keyCols)
      val mm = changesOnce.agg(aggs.head, aggs.tail: _*).first()
      val t = mm.getLong(0)
      val u = if (mm.isNullAt(1)) 0L else mm.getLong(1)
      if (t == 0L) (0L, 0L, Nil, None)
      else keyBoundFilters(keyCols, mm, 2) match {
        case None => (t, u, Nil, None) // a key column is all-null: nothing can match
        case Some(filters) =>
          val popts = pruneOpts(root, cur.schema, partitionColumns, partitionTypes)
          (t, u, RefTableStats.prune(current,
            RefTablePartitioning.prune(files, popts, filters), popts, filters, conf),
            Some(filters))
      }
    }
    val narrowed =
      if (mayMatch.isEmpty) mayMatch
      else bucketNarrow(current, files, changesOnce, keyCols,
        cur.schema.fields.map(f => f.name -> f.dataType).toMap, conf) match {
        case Some(keep) => mayMatch.filter(f => keep.contains(f.path))
        case None => mayMatch
      }
    // after-image gate over the upsert images (deletes land nothing and
    // always apply): a violating upsert is SKIPPED — its key's old
    // position survives and no new image stages
    val upsPass = gateApply(spark, gate, changesOnce, ct =!= "delete", col,
      "applyChanges upsert")
    VersionedTable.publishVia(root, keepVersions,
      parent = Some(new Path(current).getName), requireBase = true,
      // CDC apply: MoR position marks + staged images, key-matching
      rebase = Some(keyedSpec(root, narrowed, partitionColumns, cdcFilters,
        pruneOpts(root, cur.schema, partitionColumns, partitionTypes), conf,
        removeTouched = false))) { staging =>
      if (nUpserts > 0L)
        VersionedTable.writeParquetMicros(
          changesOnce.filter(ct =!= "delete" && upsPass).select(curCols.map(col): _*),
          staging.toString, partitionColumns)
      if (narrowed.nonEmpty) {
        val metaAll = readFilesEx(spark, root, narrowed, partitionColumns, partitionTypes,
          withMeta = true)
        val pinned = narrowed.flatMap(f =>
          f.dvPositions.map(p => (DeletionVectors.relOf(f.path), p)))
        val live = if (pinned.isEmpty) metaAll else {
          import spark.implicits._
          val dv = pinned.toDF("__dv_file", "__dv_pos")
          metaAll.join(org.apache.spark.sql.functions.broadcast(dv),
            metaAll("__rel") === dv("__dv_file") && metaAll("__pos") === dv("__dv_pos"),
            "left_anti")
        }
        live.join(
            changesOnce.filter(ct === "delete" || upsPass)
              .select(keyCols.map(col): _*).distinct(),
            keyCols, "left_semi")
          .select(col("__rel").as("file"), col("__pos").as("pos"))
          .coalesce(1).write.mode("overwrite")
          .parquet(new Path(staging, DeletionVectors.DvDir).toString)
      }
      referenceRest(root, staging, current, Nil, conf, partitionColumns)
    }
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
      root: String, schema: org.apache.spark.sql.types.StructType,
      partitionColumns: Seq[String] = Nil,
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty) = {
    val withPv = org.apache.spark.sql.types.StructType(
      schema.fields ++ partitionColumns.filterNot(schema.fieldNames.contains).map(c =>
        org.apache.spark.sql.types.StructField(c, pType(c, partitionTypes))))
    RefTableOptions(path = root, schema = withPv, rowField = None, keyColumn = None,
      refreshMs = 0L, emitPerTrigger = false, genColumn = None,
      partitionColumns = partitionColumns)
  }

  private def pType(
      c: String, partitionTypes: Map[String, org.apache.spark.sql.types.DataType]) =
    partitionTypes.getOrElse(c, org.apache.spark.sql.types.StringType)

  /** Read a set of listed files with their partition columns attached as
    * TYPED columns. Flat layouts read directly. Partitioned reads group by
    * HOSTING version dir (bounded by the manifest-chain length, never by
    * partition count) and use Spark's `basePath` discovery with partition
    * type inference OFF — raw directory strings, cast to the declared
    * partition types, exactly how the DSv2 reader decodes them. A
    * mutation's rewrite therefore canonicalizes partition directory NAMES
    * (`bucket=007` → `bucket=7` when the column is typed numeric) while
    * preserving partition VALUES under the declared type — same contract
    * as compaction.
    */
  private def readFiles(
      spark: SparkSession, root: String, files: Seq[SnapshotFile],
      partitionColumns: Seq[String],
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType]): DataFrame =
    readFilesEx(spark, root, files, partitionColumns, partitionTypes, withMeta = false)

  /** As [[readFiles]]. `withMeta = false` (every rewrite path): pinned
    * deletion vectors subtract on the raw file read — a rewrite that
    * missed them would resurrect deleted rows into its staged files.
    * `withMeta = true` (the MoR delete's position pass): rows keep their
    * `__rel`/`__pos` file coordinates and DVs are NOT subtracted
    * (re-marking an already-deleted position is inert — sidecar loads
    * deduplicate).
    */
  /** Listing-based raw read for the changefeed stream's file-delta diff —
    * same mechanics as the mutation reads ([[readFilesEx]]).
    */
  private[reftable] def readFilesForDiff(
      spark: SparkSession, root: String, files: Seq[SnapshotFile],
      partitionColumns: Seq[String],
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType],
      withMeta: Boolean): DataFrame =
    readFilesEx(spark, root, files, partitionColumns, partitionTypes, withMeta)

  private def readFilesEx(
      spark: SparkSession, root: String, files: Seq[SnapshotFile],
      partitionColumns: Seq[String],
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType],
      withMeta: Boolean): DataFrame = {
    def prep(df: DataFrame, group: Seq[SnapshotFile], sess: SparkSession): DataFrame =
      if (withMeta)
        df.withColumn("__rel", org.apache.spark.sql.functions.regexp_extract(
            col("_metadata.file_path"), DeletionVectors.RelRegex, 1))
          .withColumn("__pos", col("_metadata.row_index"))
      else DeletionVectors.applyTo(sess, df, group)
    // flat fast path ONLY when no file carries directory values: after
    // partition evolution REMOVES the spec, old files still hold the
    // column solely in their `col=value` directories — a flat read would
    // silently drop it from the rewrite (the staged files would lose the
    // column for every old row). Those files go through the basePath
    // discovery branch below, whose final cast restores declared types.
    if (partitionColumns.isEmpty && files.forall(_.partitionValues.isEmpty))
      return prep(
        spark.read.option("mergeSchema", "true").parquet(files.map(_.path): _*), files, spark)
    val conf = HadoopConf()
    val rootPath = new Path(root)
    val qualifiedRoot = rootPath.getFileSystem(conf).makeQualified(rootPath).toString
    def hostOf(p: String): String = {
      val rel = if (p.startsWith(qualifiedRoot + "/")) p.substring(qualifiedRoot.length + 1) else p
      val seg = rel.indexOf('/')
      require(seg > 0, s"partitioned file not under a version dir: $p")
      s"$qualifiedRoot/${rel.substring(0, seg)}"
    }
    // scoped child session: inference off so 007 stays "007" until the
    // declared-type cast (compact scopes the same conf the same way)
    val scoped = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try scoped.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () } // static confs
    }
    scoped.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val byHost = files.groupBy(f => hostOf(f.path))
    val combined = byHost.toSeq.map { case (host, group) =>
      // DV subtraction (or __rel/__pos capture) per host group, on the
      // fresh file-source read — the `_metadata` column resolves only there
      val df = prep(scoped.read.option("mergeSchema", "true").option("basePath", host)
        .parquet(group.map(_.path): _*), group, scoped)
      // directory columns of THIS group's own layout that are not declared
      // table columns are derived values (hidden-transform `col_day` dirs):
      // discovery surfaces them, but they must never enter the rewrite
      val undeclaredDir = group.flatMap(_.partitionValues.keys).distinct
        .filter(c => !partitionColumns.contains(c) && !partitionTypes.contains(c))
      if (undeclaredDir.isEmpty) df else df.drop(undeclaredDir: _*)
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    // cast every DECLARED column the read discovered (current partition
    // columns, plus any since-removed one surfacing from an old file's
    // directories as a raw string — partition evolution) back to its
    // declared type; a cast to a column's own type is a no-op
    val typed = combined.withColumns(
      combined.columns.filter(c => partitionColumns.contains(c) || partitionTypes.contains(c))
        .map(c => c -> col(c).cast(pType(c, partitionTypes))).toMap)
    // rebind to the caller's session so downstream joins against caller
    // DataFrames resolve under one set of confs
    org.apache.spark.sql.graft.DatasetBridge.ofRows(
      spark, typed.queryExecution.analyzed)
  }

  /** Hash-bucket narrowing: when the CURRENT version is a physical
    * bucketed layout ([[VersionedTable.publishBucketed]]) whose bucket
    * columns equal the mutation's key columns, the files that may contain
    * a source key are exactly the files of the source's bucket ids —
    * `pmod(hash(keys), n)`, the same `HashPartitioning` expression the
    * writer's `repartition(n, cols)` used, read back from the staged
    * `part-NNNNN` task indices. The distinct-bucket collect is bounded by
    * the batch's bucket count. Returns None when the layout doesn't apply
    * (no marker — e.g. any post-mutation manifest version — or different
    * columns), in which case callers keep their stats-based narrowing; a
    * Some intersects with it. This is what keeps a k-key upsert on an
    * n-bucket table at ≤ k rewritten files even when the keys are
    * scattered across the whole key range (where [min,max] narrowing
    * keeps everything).
    */
  private def bucketNarrow(
      current: String, files: Seq[SnapshotFile], source: DataFrame,
      keyCols: Seq[String],
      types: Map[String, org.apache.spark.sql.types.DataType],
      conf: Configuration): Option[Set[String]] = {
    val bp = new Path(current, VersionedTable.BucketsMarker)
    val fs = bp.getFileSystem(conf)
    if (!fs.exists(bp)) return None
    val in = fs.open(bp)
    val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    val cols = {
      import scala.jdk.CollectionConverters._
      Option(node.get("cols")).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    }
    val n = node.path("n").asInt(0)
    if (cols != keyCols || n <= 0) return None // hash is order-sensitive: exact match only
    if (!keyCols.forall(types.contains)) return None
    // hash under the TABLE's key types, not the source's: Murmur3 is
    // type-sensitive (hash(3:int) != hash(3L:bigint)), and the writer
    // hashed the table-typed columns — same contract bucketNarrowByFilters
    // enforces with lit(v).cast(types(c))
    val touched = source
      .select(pmod(hash(keyCols.map(c => col(c).cast(types(c))): _*), lit(n)).as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val keep = files.filter(f => bucketIdOf(f.path).exists(touched.contains))
    Some(keep.map(_.path).toSet)
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
  private def bucketNarrowByFilters(
      spark: SparkSession, current: String, files: Seq[SnapshotFile],
      filters: Seq[org.apache.spark.sql.sources.Filter],
      types: Map[String, org.apache.spark.sql.types.DataType],
      conf: Configuration): Option[Set[String]] = {
    val bp = new Path(current, VersionedTable.BucketsMarker)
    if (!bp.getFileSystem(conf).exists(bp)) return None
    val in = bp.getFileSystem(conf).open(bp)
    val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    val cols = {
      import scala.jdk.CollectionConverters._
      Option(node.get("cols")).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    }
    val n = node.path("n").asInt(0)
    if (cols.isEmpty || n <= 0 || !cols.forall(types.contains)) return None
    import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, In}
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
      pmod(hash(cols.zip(t).map { case (c, v) => lit(v).cast(types(c)) }: _*), lit(n)).as(s"b$i")
    }
    val row = spark.range(1).select(exprs: _*).first()
    val touched = tuples.indices.map(row.getInt).toSet
    Some(files.filter(f => bucketIdOf(f.path).exists(touched.contains)).map(_.path).toSet)
  }

  /** The declared types of a relation's partition columns — the map the
    * mutation paths need to cast Hive directory values back to typed
    * columns. Partition columns are validated against the storage schema
    * at option-parse time, so the lookup is total for a valid relation.
    */
  /** Declared name→type for EVERY schema field, not just the current
    * partition columns: under partition evolution a mutation read can
    * discover a since-removed partition column from an old file's
    * `col=value` directories, and it must cast back to the DECLARED type
    * (inference is off, so the raw directory string would otherwise union
    * as string against the typed data pages of newer files).
    */
  def partitionTypesOf(opts: RefTableOptions): Map[String, org.apache.spark.sql.types.DataType] =
    opts.schema.fields.map(f => f.name -> f.dataType).toMap

  /** The manifest-aware file listing of the resolved `current` version:
    * manifest-referenced versions resolve their `_FILES.json` chain
    * ([[RefTableFileManifest.resolve]] via [[SnapshotFiles.list]]); physical
    * versions list flat files or walk the Hive partition tree per the
    * declared `partitionColumns`.
    */
  private def listLayout(current: String, partitionColumns: Seq[String]): Seq[SnapshotFile] =
    SnapshotFiles.list(current, partitionColumns)

  /** Read the full logical content of a (possibly manifest-referenced)
    * version from its resolved listing, mergeSchema on, with partition
    * columns attached as typed columns ([[readFiles]]). An empty listing
    * falls back to the directory read so error behavior matches the
    * pre-manifest code exactly.
    */
  private[reftable] def readAll(
      spark: SparkSession, root: String, current: String, files: Seq[SnapshotFile],
      partitionColumns: Seq[String],
      partitionTypes: Map[String, org.apache.spark.sql.types.DataType]): DataFrame =
    if (files.isEmpty) spark.read.option("mergeSchema", "true").parquet(current)
    else readFiles(spark, root, files, partitionColumns, partitionTypes)

  /** Write the staging dir's `_FILES.json`: the new version inherits the
    * parent's files minus the rewritten (`touched`) ones, plus whatever
    * parquet the mutation staged — O(touched) manifest entries, zero
    * filesystem operations on carried files (they are named, not moved).
    * `partitionColumns` direct the staged-file listing: a partitioned
    * rewrite stages files under `col=value` subdirectories, and listing
    * them flat would silently drop the rewritten rows from the manifest.
    */
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
    * re-records the layout marker (churn resets) and rides the
    * commit-rebase spec of a predicate-local COW mutation: a recluster is
    * content-neutral, so concurrent appends rebase it.
    */
  def reclusterPartial(
      spark: SparkSession, root: String, cols: Seq[String], zorder: Boolean,
      targetFileBytes: Long = 128L * 1024 * 1024, maxReadAmp: Double = 1.5,
      keepVersions: Int = 3, partitionColumns: Seq[String] = Nil): Option[String] =
    VersionedTable.withConflictRetry(root) { () =>
      val conf = HadoopConf()
      val current = resolveLayout(root, conf, partitionColumns)
      val files = listLayout(current, partitionColumns)
      if (files.size < 2) return None
      val stats = RefTableStats.statsForListing(current, files, conf)
      val lead = cols.head
      val bounds: Map[String, (Double, Double)] = files.flatMap { f =>
        for {
          fs <- stats.get(f.path)
          cs <- fs.cols.get(lead)
          mn <- cs.min if mn.isNumber
          mx <- cs.max if mx.isNumber
        } yield f.path -> (mn.asDouble(), mx.asDouble())
      }.toMap
      if (bounds.size < 2) return None
      val lo = bounds.values.map(_._1).min
      val hi = bounds.values.map(_._2).max
      if (hi <= lo) return None
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
      val keptAmp = kept.toSeq.map(p => bounds(p)._2 - bounds(p)._1).sum / (hi - lo)
      val wideBounds = wide.flatMap(f => bounds.get(f.path))
      val wideCoverage =
        if (wideBounds.size < wide.size) 1.0
        else (wideBounds.map(_._2).max - wideBounds.map(_._1).min) / (hi - lo)
      if (keptAmp + wideCoverage > maxReadAmp) return None
      val nOut = math.max(1, math.ceil(
        wide.map(_.length).sum.toDouble / targetFileBytes).toInt)
      val marker = s"layout=${if (zorder) "zorder" else "cluster"}:${cols.mkString(",")}"
      Some(VersionedTable.publishVia(root, keepVersions, marker = Some(marker),
        parent = Some(new Path(current).getName), requireBase = true,
        rebase = Some(VersionedTable.RebaseSpec(
          removedRel = relsOf(root, wide, conf), readRel = relsOf(root, wide, conf),
          partitionColumns = partitionColumns))) { staging =>
        val df = readFiles(spark, root, wide, partitionColumns, Map.empty)
        val sorted =
          if (zorder) {
            val zc = "__graft_z"
            val z = df.withColumn(zc, ZOrder.zColumn(df, cols))
            z.repartitionByRange(nOut, z(zc)).sortWithinPartitions(zc).drop(zc)
          } else df.repartitionByRange(nOut, cols.map(col): _*)
            .sortWithinPartitions(cols.map(col): _*)
        VersionedTable.writeParquetMicros(sorted, staging.toString, partitionColumns,
          colocatePartitions = false) // range/z-order pre-arranged above
        referenceRest(root, staging, current, wide, conf, partitionColumns)
      })
    }

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
  private def statsOverlap(root: String, filters: Seq[Filter], popts: RefTableOptions,
      conf: Configuration): (String, Seq[RefTableFileManifest.Entry]) => Boolean =
    (headDir, added) => filters.isEmpty || {
      // qualified paths: prune's host-grouping relativizes against the
      // QUALIFIED root and fails open (= conflicts) on a mismatch
      val rootPath = new Path(root)
      val qualifiedRoot =
        rootPath.getFileSystem(conf).makeQualified(rootPath).toString
      val sfs = added.map(e =>
        SnapshotFile(s"$qualifiedRoot/${e.rel}", e.len, e.pv))
      RefTableStats.prune(headDir, sfs, popts, filters, conf).nonEmpty
    }

  /** RebaseSpec for a predicate-local COW mutation (DELETE/UPDATE): the
    * pruned may-match set is both the read and the rewrite set; blind
    * appends never conflict (the Delta write-serializable rule), other
    * deltas conflict when they add a file the predicate may match.
    */
  private def cowSpec(root: String, touched: Seq[SnapshotFile],
      partitionColumns: Seq[String], filters: Seq[Filter], popts: RefTableOptions,
      conf: Configuration): VersionedTable.RebaseSpec = {
    val rels = relsOf(root, touched, conf)
    VersionedTable.RebaseSpec(removedRel = rels, readRel = rels,
      addedMayMatch = statsOverlap(root, filters, popts, conf),
      partitionColumns = partitionColumns)
  }

  /** RebaseSpec for a key-matching mutation (upsert/MERGE): like [[cowSpec]]
    * but blind appends also conflict when they may carry the source's keys —
    * two concurrent upserts of one new key must not both insert it — and
    * concurrent position marks on read files conflict (the staged images
    * could duplicate a concurrently-mutated row). `keyFilters` None means
    * the source's keys are all NULL — an equi-join key never matches NULL,
    * so no added file can conflict.
    */
  private def keyedSpec(root: String, touched: Seq[SnapshotFile],
      partitionColumns: Seq[String], keyFilters: Option[Seq[Filter]],
      popts: RefTableOptions, conf: Configuration,
      removeTouched: Boolean = true): VersionedTable.RebaseSpec = {
    val rels = relsOf(root, touched, conf)
    VersionedTable.RebaseSpec(
      removedRel = if (removeTouched) rels else Set.empty,
      readRel = rels,
      addedMayMatch = keyFilters match {
        case None => (_, _) => false
        case Some(fs) => statsOverlap(root, fs, popts, conf)
      },
      conflictOnBlindAppend = true,
      stagesImages = true,
      partitionColumns = partitionColumns)
  }
}
