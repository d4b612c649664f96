package graft.sources.reftable

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Translation of Spark data-source filters into parquet-mr FilterPredicates
  * for the reftable readers. These predicates are an OPTIMIZATION only —
  * row-group statistics skipping everywhere, page skipping and record-level
  * filtering where the reader supports it (the vectorized path filters at
  * row-group/page granularity only). Correctness does NOT depend on them:
  * RefTableScanBuilder.pushFilters returns every filter as a residual, and
  * Spark re-evaluates exactly above the scan. Do not revert that contract —
  * record-level parquet semantics differ from SQL three-valued logic (e.g.
  * notEq keeps nulls), and the guards here only make the *statistics* level
  * agree with SQL.
  *
  * Supported: =, <, <=, >, >=, IsNull, IsNotNull, In, And, Or, Not over
  * int/long/float/double/boolean/string fields (rowField redirected to its
  * storage key column). Everything else is not translated.
  */
object RefTableFilters {

  /** Filters DECLARED via the `filter` source option, translated to
    * data-source filters for listing-time pruning and row-group skipping.
    *
    * Spark never pushes Catalyst filters into a streaming DSv2 scan
    * (MicroBatchExecution builds the ScanBuilder directly, without running
    * V2ScanRelationPushDown — verified against the 4.1 streaming runtime),
    * so a streaming query's predicate cannot reach the source the way a
    * batch query's does. The option closes that gap by declaration: the
    * caller states the predicate the query applies, the source prunes with
    * it, and the query's own Filter node remains the exactness residual —
    * the same division of labor as the batch pushed-filter contract.
    * Resolution runs against an empty relation of the output schema so the
    * expression gets full analyzer treatment (implicit casts) before
    * translation, which folds each constant operand — a literal under the
    * cast to its column's type — to its value; conjuncts that don't
    * translate simply don't prune.
    */
  def declared(opts: RefTableOptions): Seq[Filter] = opts.filterSql.toSeq.flatMap { s =>
    fromPredicate(org.apache.spark.sql.SparkSession.active, opts.outputSchema,
      org.apache.spark.sql.functions.expr(s))
  }

  /** Conjunctive data-source filters for an arbitrary Column predicate over
    * `schema` — shared by the declared-filter option and the copy-on-write
    * mutations ([[RefTableMutations]]), which use the result to decide
    * which files a DELETE must rewrite.
    */
  def fromPredicate(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      predicate: org.apache.spark.sql.Column): Seq[Filter] = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val cond = empty.filter(predicate)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    cond.toSeq.flatMap(conjuncts).flatMap(toSourceFilter)
  }

  /** Catalyst expression → data-source filter, for the shapes the pruning
    * layers understand (comparisons, null tests, IN, boolean combinators
    * over attribute/literal operands). Spark's own translator is
    * `protected[sql]`; this mirror is deliberately narrow — anything it
    * doesn't recognize returns None and simply doesn't prune, which is
    * always safe.
    */
  private def toSourceFilter(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Filter] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    def attr(x: ce.Expression): Option[String] = x match {
      case a: ce.Attribute => Some(a.name)
      // the identity cast the analyzer puts on an IN list's column
      case c: ce.Cast if c.child.isInstanceOf[ce.Attribute] && c.child.dataType == c.dataType =>
        attr(c.child)
      case _ => None
    }
    // an operand that folds to a constant is its value: the analyzer wraps
    // a literal in the cast to the column's type (`id = cast(7 as bigint)`).
    // A cast on the COLUMN side stays untranslated: it can change order.
    def value(x: ce.Expression): Option[Any] = x match {
      case l: ce.Literal => Some(convertToScala(l.value, l.dataType))
      case f if f.foldable && f.references.isEmpty =>
        scala.util.Try(f.eval()).toOption.map(convertToScala(_, f.dataType))
      case _ => None
    }
    def cmp(
        l: ce.Expression, r: ce.Expression,
        direct: (String, Any) => Filter, flipped: (String, Any) => Filter): Option[Filter] =
      (attr(l), value(r), attr(r), value(l)) match {
        case (Some(a), Some(v), _, _) => Some(direct(a, v))
        case (_, _, Some(a), Some(v)) => Some(flipped(a, v))
        case _ => None
      }
    e match {
      case ce.EqualTo(l, r) => cmp(l, r, EqualTo(_, _), EqualTo(_, _))
      case ce.EqualNullSafe(l, r) => cmp(l, r, EqualNullSafe(_, _), EqualNullSafe(_, _))
      case ce.GreaterThan(l, r) => cmp(l, r, GreaterThan(_, _), LessThan(_, _))
      case ce.GreaterThanOrEqual(l, r) =>
        cmp(l, r, GreaterThanOrEqual(_, _), LessThanOrEqual(_, _))
      case ce.LessThan(l, r) => cmp(l, r, LessThan(_, _), GreaterThan(_, _))
      case ce.LessThanOrEqual(l, r) =>
        cmp(l, r, LessThanOrEqual(_, _), GreaterThanOrEqual(_, _))
      case ce.IsNull(c) => attr(c).map(IsNull)
      case ce.IsNotNull(c) => attr(c).map(IsNotNull)
      case ce.In(c, list) if list.forall(value(_).isDefined) =>
        attr(c).map(a => In(a, list.flatMap(value).toArray))
      case ce.InSet(c, hset) =>
        attr(c).map(a => In(a, hset.map(v => convertToScala(v, c.dataType)).toArray))
      case ce.Not(c) => toSourceFilter(c).map(Not)
      case ce.And(l, r) =>
        for (lf <- toSourceFilter(l); rf <- toSourceFilter(r)) yield And(lf, rf)
      case ce.Or(l, r) =>
        for (lf <- toSourceFilter(l); rf <- toSourceFilter(r)) yield Or(lf, rf)
      case ce.StartsWith(c, ce.Literal(v, _)) if v != null =>
        attr(c).map(a => StringStartsWith(a, v.toString))
      case _ => None
    }
  }

  /** Data-source filter → Column over the STORAGE-named files (rowField
    * redirected to its key column) — the inverse direction of
    * [[toSourceFilter]], used by the SQL DELETE path to hand predicates
    * to the copy-on-write mutation. None for shapes without an exact
    * Column equivalent: those make `canDeleteWhere` false, so Spark
    * refuses the DELETE instead of over- or under-deleting.
    */
  def toColumn(opts: RefTableOptions, f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not => fnot}
    def c(a: String): Option[org.apache.spark.sql.Column] =
      opts.schema.fields.find(_.name == a).filter(_ => !opts.genColumn.contains(a))
        .map(fd => col(opts.storageColumn(fd.name)))
    f match {
      case EqualTo(a, v) => c(a).map(_ === lit(v))
      case EqualNullSafe(a, v) => c(a).map(_ <=> lit(v))
      case GreaterThan(a, v) => c(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => c(a).map(_ >= lit(v))
      case LessThan(a, v) => c(a).map(_ < lit(v))
      case LessThanOrEqual(a, v) => c(a).map(_ <= lit(v))
      case IsNull(a) => c(a).map(_.isNull)
      case IsNotNull(a) => c(a).map(_.isNotNull)
      case In(a, vs) => c(a).map(_.isin(vs.toIndexedSeq: _*))
      case StringStartsWith(a, p) => c(a).map(_.startsWith(p))
      case StringEndsWith(a, p) => c(a).map(_.endsWith(p))
      case StringContains(a, p) => c(a).map(_.contains(p))
      case Not(ch) => toColumn(opts, ch).map(fnot)
      case And(l, r) => for (lc <- toColumn(opts, l); rc <- toColumn(opts, r)) yield lc && rc
      case Or(l, r) => for (lc <- toColumn(opts, l); rc <- toColumn(opts, r)) yield lc || rc
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** Storage-side field name + type for a schema field, if pushable.
    * Partition columns are excluded — they exist only in directory names,
    * and parquet-mr rejects predicates over absent columns; their filters
    * are handled by listing-time pruning instead.
    */
  private def storageField(opts: RefTableOptions, name: String): Option[(String, DataType)] =
    opts.schema.fields.find(_.name == name)
      .filter(_ => !opts.genColumn.contains(name) && !opts.isPartitionCol(name))
      .map(f => (opts.storageColumn(f.name), f.dataType))

  def translate(opts: RefTableOptions, f: Filter): Option[FilterPredicate] = f match {
    case EqualTo(a, v) if v != null => leaf(opts, a, v, Op.Eq)
    case GreaterThan(a, v) if v != null => leaf(opts, a, v, Op.Gt)
    case GreaterThanOrEqual(a, v) if v != null => leaf(opts, a, v, Op.GtEq)
    case LessThan(a, v) if v != null => leaf(opts, a, v, Op.Lt)
    case LessThanOrEqual(a, v) if v != null => leaf(opts, a, v, Op.LtEq)
    case IsNull(a) => leaf(opts, a, null, Op.Eq)
    case IsNotNull(a) => leaf(opts, a, null, Op.NotEq)
    case In(a, vs) if vs.nonEmpty =>
      // SQL IN: a null element never matches (x = NULL is unknown), while
      // parquet eq(c, null) matches nulls — so null elements are simply
      // dropped. An all-null list matches nothing: stays residual (Spark
      // evaluates it to no rows).
      val nonNull = vs.toSeq.filter(_ != null)
      if (nonNull.isEmpty) None
      else {
        val parts = nonNull.map(v => leaf(opts, a, v, Op.Eq))
        if (parts.exists(_.isEmpty)) None
        else Some(parts.flatten.reduce(FilterApi.or))
      }
    case And(l, r) =>
      for (lp <- translate(opts, l); rp <- translate(opts, r)) yield FilterApi.and(lp, rp)
    case Or(l, r) =>
      for (lp <- translate(opts, l); rp <- translate(opts, r)) yield FilterApi.or(lp, rp)
    case Not(EqualTo(a, v)) if v != null =>
      // parquet-mr record-level notEq KEEPS nulls (NotEq.updateNull sets
      // true), but SQL `a != v` is unknown for null a and must DROP the row;
      // AND an is-not-null guard (notEq(c, null)) so the pushed predicate
      // matches SQL three-valued logic even inside disjunctions, where Spark
      // adds no IsNotNull constraint of its own.
      for (nn <- leaf(opts, a, null, Op.NotEq); ne <- leaf(opts, a, v, Op.NotEq))
        yield FilterApi.and(nn, ne)
    case _ => None
  }

  private object Op extends Enumeration { val Eq, NotEq, Gt, GtEq, Lt, LtEq = Value }

  private def leaf(opts: RefTableOptions, attr: String, v: Any, op: Op.Value): Option[FilterPredicate] =
    storageField(opts, attr).flatMap { case (col, dt) =>
      try dt match {
        case IntegerType =>
          val c = FilterApi.intColumn(col)
          val x = if (v == null) null else java.lang.Integer.valueOf(v.asInstanceOf[Number].intValue())
          Some(op match {
            case Op.Eq => FilterApi.eq(c, x); case Op.NotEq => FilterApi.notEq(c, x)
            case Op.Gt => FilterApi.gt(c, x); case Op.GtEq => FilterApi.gtEq(c, x)
            case Op.Lt => FilterApi.lt(c, x); case Op.LtEq => FilterApi.ltEq(c, x)
          })
        case LongType =>
          val c = FilterApi.longColumn(col)
          val x = if (v == null) null else java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())
          Some(op match {
            case Op.Eq => FilterApi.eq(c, x); case Op.NotEq => FilterApi.notEq(c, x)
            case Op.Gt => FilterApi.gt(c, x); case Op.GtEq => FilterApi.gtEq(c, x)
            case Op.Lt => FilterApi.lt(c, x); case Op.LtEq => FilterApi.ltEq(c, x)
          })
        case FloatType =>
          val c = FilterApi.floatColumn(col)
          val x = if (v == null) null else java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue())
          Some(op match {
            case Op.Eq => FilterApi.eq(c, x); case Op.NotEq => FilterApi.notEq(c, x)
            case Op.Gt => FilterApi.gt(c, x); case Op.GtEq => FilterApi.gtEq(c, x)
            case Op.Lt => FilterApi.lt(c, x); case Op.LtEq => FilterApi.ltEq(c, x)
          })
        case DoubleType =>
          val c = FilterApi.doubleColumn(col)
          val x = if (v == null) null else java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue())
          Some(op match {
            case Op.Eq => FilterApi.eq(c, x); case Op.NotEq => FilterApi.notEq(c, x)
            case Op.Gt => FilterApi.gt(c, x); case Op.GtEq => FilterApi.gtEq(c, x)
            case Op.Lt => FilterApi.lt(c, x); case Op.LtEq => FilterApi.ltEq(c, x)
          })
        case BooleanType =>
          val c = FilterApi.booleanColumn(col)
          val x = if (v == null) null else java.lang.Boolean.valueOf(v.asInstanceOf[Boolean])
          op match {
            case Op.Eq => Some(FilterApi.eq(c, x))
            case Op.NotEq => Some(FilterApi.notEq(c, x))
            case _ => None
          }
        case StringType =>
          val c = FilterApi.binaryColumn(col)
          val x = if (v == null) null else Binary.fromString(v.asInstanceOf[String])
          Some(op match {
            case Op.Eq => FilterApi.eq(c, x); case Op.NotEq => FilterApi.notEq(c, x)
            case Op.Gt => FilterApi.gt(c, x); case Op.GtEq => FilterApi.gtEq(c, x)
            case Op.Lt => FilterApi.lt(c, x); case Op.LtEq => FilterApi.ltEq(c, x)
          })
        case _ => None // timestamps (unit-dependent), binary, etc: residual
      } catch { case _: ClassCastException => None }
    }
}
