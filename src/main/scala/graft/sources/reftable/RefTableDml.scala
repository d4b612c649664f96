package graft.sources.reftable

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.{ColumnBridge, DatasetBridge}

/** SQL `UPDATE` and `MERGE INTO` for reftable relations.
  *
  * Spark's own row-level-operation planner (`SupportsRowLevelOperations` →
  * `ReplaceData`) demands a full executor-side DSv2 `BatchWrite`; the
  * reftable write path is deliberately a V1 fallback around the versioned
  * publish, so instead these statements are rewritten AT ANALYSIS TIME
  * into driver commands over the same file-granular mutations (copy-on-
  * write or merge-on-read, per the table's `updateMode`/`mergeMode`) that
  * serve `DELETE FROM` and the programmatic API — the
  * custom-`Rule[LogicalPlan]` escape hatch Spark keeps for exactly the
  * operators its planner cannot express for a source. Injected by
  * [[graft.functions.GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions`).
  *
  * Expressions are detached from the analyzed plan by rewriting resolved
  * attribute references back to name lookups (target names additionally
  * mapped through `rowField` aliasing to their storage names), so the
  * mutation can re-resolve them against its own pinned read — the same
  * re-derivation contract the commit CAS requires anyway.
  *
  * Supported MERGE shape (refused loudly otherwise, never silently
  * narrowed): an equi-join ON clause (conjunction of `target.k = <source
  * expr>`), at most one `WHEN MATCHED [AND cond] THEN UPDATE SET ...`, at
  * most one `WHEN MATCHED [AND cond] THEN DELETE`, at most one `WHEN NOT
  * MATCHED [AND cond] THEN INSERT ...`, at most one `WHEN NOT MATCHED BY
  * SOURCE [AND cond] THEN UPDATE SET ...` and one `... THEN DELETE`.
  * Matched/not-matched clause conditions and values may reference only
  * the source side (the CDC shape [[RefTableMutations.mergeClauses]]
  * executes); NOT MATCHED BY SOURCE conditions and values only the
  * TARGET side (there is no source row). `UPDATE SET *` / `INSERT *`
  * work (the star-expanded no-op key self-assignment is dropped), and
  * `MERGE WITH SCHEMA EVOLUTION` evolves CATALOG tables via Spark's own
  * resolution rule + our ALTER ADD COLUMN (path tables refuse loudly —
  * their OPTIONS-declared descriptor cannot evolve).
  */
case class RefTableDmlRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(target, assignments, cond) if u.resolved =>
      refTableOf(target) match {
        case Some((rel, table)) =>
          val opts = mutableOpts(table, "UPDATE")
          (cond.toSeq ++ assignments.map(_.value))
            .foreach(refuseCorrelated(_, "UPDATE"))
          val targetAttrs = rel.outputSet
          val set = assignments.map { a =>
            val name = a.key match {
              case ar: AttributeReference => ar.name
              case other => throw new UnsupportedOperationException(
                s"reftable UPDATE supports top-level column assignments only, got ${other.sql}")
            }
            opts.storageColumn(name) -> detach(a.value, targetAttrs, opts)
          }.toMap
          refuseGeneratedTouch(opts, assignments.flatMap(_.key match {
            case ar: AttributeReference => Some(ar.name); case _ => None
          }), "UPDATE")
          val condition = cond.map(detach(_, targetAttrs, opts)).getOrElse(lit(true))
          UpdateRefTableCommand(opts, set, condition)
        case None => u
      }

    case m: MergeIntoTable if m.resolved =>
      refTableOf(m.targetTable) match {
        case Some((rel, table)) => rewriteMerge(m, rel, table)
        case None => m
      }

    // DELETE with a condition Spark's SupportsDelete path cannot take: an
    // UNCORRELATED subquery (`IN (SELECT ...)` — "Delete by condition with
    // subquery is not supported"), or ANY predicate that doesn't translate
    // to v1 Filters (arithmetic like `k % 4 = 0`, function calls, …, which
    // otherwise die with "Cannot delete from table"). The COW/MoR
    // mutations evaluate an arbitrary Column over the pinned read — route
    // those there, exactly like UPDATE; fully-translatable subquery-free
    // deletes keep the pushed-filter SupportsDelete path (file-exact
    // drops, stats narrowing). CORRELATED subqueries cannot survive the
    // detach/re-resolve contract (their outer references stay bound to
    // the original relation) — refuse loudly instead of an executor
    // binding error.
    case d @ DeleteFromTable(target, condition) if d.resolved && {
        import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
            conjuncts(l) ++ conjuncts(r)
          case other => Seq(other)
        }
        SubqueryExpression.hasSubquery(condition) ||
          conjuncts(condition).exists(e =>
            !org.apache.spark.sql.graft.ColumnBridge.translatesToV1Filter(e))
      } =>
      refTableOf(target) match {
        case Some((rel, table)) =>
          val opts = mutableOpts(table, "DELETE")
          refuseCorrelated(condition, "DELETE")
          DeleteRefTableCommand(opts, detach(condition, rel.outputSet, opts))
        case None => d
      }

    case other => other
  }

  private def rewriteMerge(
      m: MergeIntoTable, rel: DataSourceV2Relation, table: RefTable): LogicalPlan = {
    val opts = mutableOpts(table, "MERGE INTO")
    // MERGE writes whole after-images (UPDATE SET * / INSERT *) — a
    // generated column would land from the SOURCE, stale or wrong; the
    // mutation engines apply images directly, so refuse up front
    if (opts.generatedColumns.nonEmpty)
      throw new UnsupportedOperationException(
        "reftable MERGE INTO: the target declares GENERATED ALWAYS AS column(s) " +
          opts.generatedColumns.map(_._1).mkString("[", ", ", "]") +
          " — MERGE applies caller-built after-images and cannot recompute them; " +
          "compute the column in the source and INSERT, or drop the generation")
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(s"reftable MERGE INTO: $what")
    // WITH SCHEMA EVOLUTION needs no handling here: Spark's own
    // ResolveMergeIntoSchemaEvolution already ALTERed the catalog table
    // (TableCatalog.alterTable + loadTable — riding our ADD COLUMN
    // support) and re-resolved the plan against the evolved schema by the
    // time this rule sees it. For non-catalog (path/session) tables the
    // evolution cannot reach the descriptor, and resolution fails loudly
    // upstream (UNRESOLVED_COLUMN) or the engine's unknown-column check
    // refuses — never a silent narrow.

    val targetAttrs = rel.outputSet
    val sourceAttrs = m.sourceTable.outputSet

    // ON clause: a conjunction of target.col = <source-only expr>
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val rawKeys: Seq[(String, Expression)] = conjuncts(m.mergeCondition).map {
      case EqualTo(t: AttributeReference, s) if targetAttrs.contains(t) &&
          s.references.subsetOf(sourceAttrs) =>
        opts.storageColumn(t.name) -> s
      case EqualTo(s, t: AttributeReference) if targetAttrs.contains(t) &&
          s.references.subsetOf(sourceAttrs) =>
        opts.storageColumn(t.name) -> s
      case other => unsupported(
        s"ON clause must be a conjunction of target.col = <source expr>, got ${other.sql}")
    }
    // The command re-projects the source as key aliases + remaining source
    // columns; a source column NAMED like a key alias whose join key came
    // from a DIFFERENT expression would be silently dropped by that
    // projection, and every clause condition/value referencing it would
    // re-resolve to the aliased join-key values — wrong results with no
    // error. Refuse the collision loudly (the contract everywhere else).
    rawKeys.foreach { case (k, raw) =>
      val sameAttr = raw match {
        case ar: AttributeReference => ar.name.equalsIgnoreCase(k)
        case _ => false
      }
      if (!sameAttr && m.sourceTable.output.exists(_.name.equalsIgnoreCase(k)))
        unsupported(
          s"the MERGE source has its own column '$k' but the ON clause joins target '$k' " +
            s"to a different expression (${raw.sql}); the source column would be shadowed " +
            "by the join-key alias and silently mis-resolve in clause conditions/values. " +
            "Rename the source column (SELECT ... AS ...) so names are unambiguous.")
    }
    val keys: Seq[(String, Column)] =
      rawKeys.map { case (k, raw) => k -> detach(raw, sourceAttrs, opts) }

    def sourceOnly(e: Expression, where: String): Column = {
      if (!e.references.subsetOf(sourceAttrs))
        unsupported(s"$where may reference only the MERGE source, got ${e.sql}")
      detach(e, sourceAttrs, opts)
    }
    def assignmentsOf(as: Seq[Assignment], where: String): Map[String, Column] =
      as.map { a =>
        val name = a.key match {
          case ar: AttributeReference if targetAttrs.contains(ar) => ar.name
          case other => unsupported(s"$where assigns a non-column ${other.sql}")
        }
        opts.storageColumn(name) -> sourceOnly(a.value, s"$where value")
      }.toMap

    // `UPDATE SET *` expands to EVERY target column, including the join
    // keys assigned their own ON-clause source expression — a no-op for
    // matched rows by definition of the equi-join. Drop exactly those
    // (value semantically equal to the key's ON expression); any OTHER
    // key assignment still reaches the engine's loud refusal.
    def dropNoOpKeyAssignments(as: Seq[Assignment]): Seq[Assignment] = {
      val keyExprs = rawKeys.toMap
      as.filterNot { a =>
        a.key match {
          case ar: AttributeReference if targetAttrs.contains(ar) =>
            keyExprs.get(opts.storageColumn(ar.name))
              .exists(_.semanticEquals(a.value))
          case _ => false
        }
      }
    }
    var update: Option[(Column, Map[String, Column])] = None
    var delete: Option[Column] = None
    m.matchedActions.foreach {
      case UpdateAction(cond, as, _) =>
        if (update.nonEmpty) unsupported("at most one WHEN MATCHED UPDATE clause")
        update = Some((cond.map(sourceOnly(_, "WHEN MATCHED UPDATE condition"))
          .getOrElse(lit(true)),
          assignmentsOf(dropNoOpKeyAssignments(as), "UPDATE SET")))
      case DeleteAction(cond) =>
        if (delete.nonEmpty) unsupported("at most one WHEN MATCHED DELETE clause")
        delete = Some(cond.map(sourceOnly(_, "WHEN MATCHED DELETE condition"))
          .getOrElse(lit(true)))
      case other => unsupported(s"unsupported WHEN MATCHED action $other")
    }
    var insert: Option[(Column, Map[String, Column])] = None
    m.notMatchedActions.foreach {
      case InsertAction(cond, as) =>
        if (insert.nonEmpty) unsupported("at most one WHEN NOT MATCHED INSERT clause")
        insert = Some((cond.map(sourceOnly(_, "WHEN NOT MATCHED condition"))
          .getOrElse(lit(true)), assignmentsOf(as, "INSERT")))
      case other => unsupported(s"unsupported WHEN NOT MATCHED action $other")
    }
    // NOT MATCHED BY SOURCE acts on target rows with no source match —
    // conditions and SET values reference the TARGET row only (mapped
    // through rowField aliasing to storage names, like UPDATE)
    def targetOnly(e: Expression, where: String): Column = {
      if (!e.references.subsetOf(targetAttrs))
        unsupported(s"$where may reference only the MERGE target, got ${e.sql}")
      detach(e, targetAttrs, opts)
    }
    var nmbsUpdate: Option[(Column, Map[String, Column])] = None
    var nmbsDelete: Option[Column] = None
    // SQL merge applies the FIRST matching clause in declaration order —
    // a statement declaring UPDATE before DELETE must update a row both
    // conditions hit, not delete it; the declared order threads through
    var nmbsUpdateFirst = false
    m.notMatchedBySourceActions.foreach {
      case UpdateAction(cond, as, _) =>
        if (nmbsUpdate.nonEmpty)
          unsupported("at most one WHEN NOT MATCHED BY SOURCE UPDATE clause")
        if (nmbsDelete.isEmpty) nmbsUpdateFirst = true
        val set = as.map { a =>
          val name = a.key match {
            case ar: AttributeReference if targetAttrs.contains(ar) => ar.name
            case other => unsupported(
              s"WHEN NOT MATCHED BY SOURCE UPDATE assigns a non-column ${other.sql}")
          }
          opts.storageColumn(name) ->
            targetOnly(a.value, "WHEN NOT MATCHED BY SOURCE UPDATE value")
        }.toMap
        nmbsUpdate = Some((cond.map(
          targetOnly(_, "WHEN NOT MATCHED BY SOURCE UPDATE condition"))
          .getOrElse(lit(true)), set))
      case DeleteAction(cond) =>
        if (nmbsDelete.nonEmpty)
          unsupported("at most one WHEN NOT MATCHED BY SOURCE DELETE clause")
        nmbsDelete = Some(cond.map(
          targetOnly(_, "WHEN NOT MATCHED BY SOURCE DELETE condition"))
          .getOrElse(lit(true)))
      case other => unsupported(s"unsupported WHEN NOT MATCHED BY SOURCE action $other")
    }
    MergeRefTableCommand(opts, m.sourceTable, keys, update, delete, insert,
      nmbsUpdate, nmbsDelete, nmbsUpdateFirst)
  }

  /** GENERATED ALWAYS AS columns cannot be SET, and neither can a column a
    * generation expression references — the mutation engines apply
    * after-images directly, so the stored generated value would silently
    * go stale against its re-derivable definition.
    */
  private def refuseGeneratedTouch(
      opts: RefTableOptions, assigned: Seq[String], stmt: String): Unit = {
    if (opts.generatedColumns.isEmpty) return
    val gen = opts.generatedColumns.map(_._1).toSet
    val referenced = opts.generatedColumns.flatMap { case (_, sql) =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }
    }.toSet
    val bad = assigned.filter(a => gen(a) || referenced(a))
    if (bad.nonEmpty)
      throw new UnsupportedOperationException(
        s"reftable $stmt: column(s) ${bad.mkString("[", ", ", "]")} are GENERATED " +
          "ALWAYS AS (or referenced by a generation expression) — updating them would " +
          "leave the stored generated value stale; recompute via DELETE + INSERT")
  }

  /** Correlated subqueries cannot be detached (their outer references
    * stay bound to the original relation and would fail binding against
    * the mutation's own pinned read) — refuse at analysis, loudly.
    */
  private def refuseCorrelated(e: Expression, stmt: String): Unit =
    if (org.apache.spark.sql.catalyst.expressions.SubqueryExpression
        .hasCorrelatedSubquery(e))
      throw new UnsupportedOperationException(
        s"reftable $stmt: correlated subqueries are not supported; rewrite as an " +
          "uncorrelated IN (SELECT ...) or a MERGE INTO against the subquery source")

  /** The reftable relation under optional aliasing, if this plan is one. */
  private def refTableOf(plan: LogicalPlan): Option[(DataSourceV2Relation, RefTable)] =
    plan match {
      case r @ DataSourceV2Relation(t: RefTable, _, _, _, _, _) => Some((r, t))
      case SubqueryAlias(_, child) => refTableOf(child)
      case _ => None
    }

  private def mutableOpts(table: RefTable, stmt: String): RefTableOptions = {
    val opts = table.opts
    if (opts.version.nonEmpty) throw new UnsupportedOperationException(
      s"reftable $stmt: a version-pinned (time travel) relation is read-only")
    if (opts.genColumn.nonEmpty) throw new UnsupportedOperationException(
      s"reftable $stmt: tables declaring genColumn are read-only projections")
    opts
  }

  /** Rebind a resolved expression to plain name lookups so it re-resolves
    * against the mutation's own pinned read. Attributes of `attrs`
    * (target-side) additionally map through `rowField` aliasing to their
    * storage names.
    */
  private def detach(e: Expression, attrs: AttributeSet, opts: RefTableOptions): Column =
    ColumnBridge.column(e.transform {
      case a: AttributeReference if attrs.contains(a) =>
        UnresolvedAttribute.quoted(opts.storageColumn(a.name))
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
}

/** Driver command for the rewritten `UPDATE`: a no-op on a never-published
  * root (nothing to update), else the table's `updateMode` picks the
  * strategy ([[RefTableMutations.updateWhere]] or
  * [[RefTableMutations.updateWhereMergeOnRead]]). A SET on a partition
  * column moves the row under either.
  */
case class UpdateRefTableCommand(
    opts: RefTableOptions, set: Map[String, Column], condition: Column)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (VersionedTable.resolve(opts.path).nonEmpty)
      RefTableMutations.sqlUpdate(spark, opts, set, condition)
    Seq.empty
  }
}

/** Driver command for a DELETE whose condition carries a subquery: the
  * same deleteMode routing as the SupportsDelete path, evaluated as a
  * Column over the mutation's own pinned read (the subquery re-resolves
  * there; stats narrowing still applies to its subquery-free conjuncts).
  */
case class DeleteRefTableCommand(opts: RefTableOptions, condition: Column)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (VersionedTable.resolve(opts.path).nonEmpty)
      RefTableMutations.sqlDelete(spark, opts, condition)
    Seq.empty
  }
}

/** Driver command for the rewritten `MERGE INTO`. A never-published target
  * bootstraps as an empty version first (so a pure-insert merge into a
  * fresh table works); then the table's `mergeMode` picks the strategy
  * ([[RefTableMutations.mergeClauses]] or
  * [[RefTableMutations.mergeClausesMergeOnRead]]).
  */
case class MergeRefTableCommand(
    opts: RefTableOptions, sourcePlan: LogicalPlan, keys: Seq[(String, Column)],
    update: Option[(Column, Map[String, Column])], delete: Option[Column],
    insert: Option[(Column, Map[String, Column])],
    nmbsUpdate: Option[(Column, Map[String, Column])] = None,
    nmbsDelete: Option[Column] = None,
    nmbsUpdateFirst: Boolean = false)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (VersionedTable.resolve(opts.path).isEmpty) {
      val storage = org.apache.spark.sql.types.StructType(opts.schema.fields.map(f =>
        f.copy(name = opts.storageColumn(f.name))))
      VersionedTable.publish(
        spark.createDataFrame(new java.util.ArrayList[Row](), storage).repartition(1),
        opts.path, opts.keepVersions)
    }
    // the join keys become same-named source columns, so the engine's
    // equi-join matches the ON clause exactly
    val source = DatasetBridge.ofRows(spark, sourcePlan)
      .select(keys.map { case (k, e) => e.as(k) } ++
        source0Cols(sourcePlan).map(org.apache.spark.sql.functions.col): _*)
    RefTableMutations.sqlMerge(spark, opts, source, keys.map(_._1),
      update, delete, insert, nmbsUpdate, nmbsDelete, nmbsUpdateFirst)
    Seq.empty
  }

  /** Source columns that do not collide with a key alias. */
  private def source0Cols(p: LogicalPlan): Seq[String] = {
    val keyNames = keys.map(_._1).toSet
    p.output.map(_.name).distinct.filterNot(keyNames.contains)
  }
}
