package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential property: copy-on-write and merge-on-read land the same
  * DML identically. Each case draws a ≤200-row keyed table `(k, v, p)` and
  * a random sequence of DELETE / UPDATE / upsert / MERGE (with NOT MATCHED
  * BY SOURCE clauses) / applyChanges, and applies it to a copy-on-write
  * root, a merge-on-read root and an in-memory model; after every op all
  * three must hold the same rows. The draw includes predicates and clause
  * conditions that evaluate to NULL, NULL values, null source and target
  * keys, NULL change types, and SETs on the partition column. Three
  * layouts: flat, partitioned by `p`, and hash-bucketed by `k`. Each case
  * also draws `spark.sql.files.maxPartitionBytes`: the default, or a
  * target of a few KiB under which reads split every file and a flat
  * rewrite stages several byte-sized files.
  *
  * Fixed seed and case count, no shrinking: a failure names its layout,
  * the op sequence up to the diverging op, and the rows that differ.
  */
class MutationDifferentialSpec extends AnyFunSuite {
  import MutationDifferentialSpec._
  private lazy val spark = SparkTestSession.spark

  /** Whether the draw includes SETs on the partition column. */
  private val partitionSets = true
  private val casesPerLayout = 3
  private val opsPerCase = 6

  private def tableRows(root: String, layout: Layout): Seq[R] =
    layout.partitionColumns.foldLeft(spark.read.format("reftable").option("path", root)
      .option("schema", "k BIGINT, v BIGINT, p STRING"))(
      (r, c) => r.option("partitionColumns", c)).load()
      .collect().toSeq.map(r => R(
        if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2)))
      .sorted

  private def publish(rows: Seq[R], root: String, layout: Layout): Unit = {
    import spark.implicits._
    val df = rows.map(r => (r.k, r.v, r.p)).toDF("k", "v", "p")
    layout match {
      case Flat => VersionedTable.publish(df.repartition(3), root)
      case Partitioned => VersionedTable.publish(df, root, layout = Layout.Partitioned(Seq("p")))
      case Bucketed => VersionedTable.publish(df, root, layout = Layout.Bucketed(Seq("k"), 4))
    }
  }

  private def run(op: Op, root: String, layout: Layout, mor: Boolean): Unit = {
    import spark.implicits._
    val pcs = layout.partitionColumns
    op match {
      case Delete(p) =>
        if (mor) RefTableMutations.deleteWhereMergeOnRead(spark, root, p.column,
          partitionColumns = pcs)
        else RefTableMutations.deleteWhere(spark, root, p.column, partitionColumns = pcs)
      case Update(set, where) =>
        val cols = set.map { case (c, e) => c -> e.column }
        if (mor) RefTableMutations.updateWhereMergeOnRead(spark, root, cols, where.column,
          partitionColumns = pcs)
        else RefTableMutations.updateWhere(spark, root, cols, where.column, partitionColumns = pcs)
      case Upsert(src) =>
        val df = src.map(r => (r.k, r.v, r.p)).toDF("k", "v", "p")
        if (mor) RefTableMutations.upsertMergeOnRead(spark, root, df, Seq("k"),
          partitionColumns = pcs)
        else RefTableMutations.upsert(spark, root, df, Seq("k"), partitionColumns = pcs)
      case m: Merge =>
        val df = m.src.map(s => (s.k, s.v, s.p, s.op)).toDF("k", "nv", "np", "op")
        val upd = m.update.map { case (cond, setP) => (cond.column,
          Map("v" -> col("nv")) ++ (if (setP) Map("p" -> col("np")) else Map.empty)) }
        val ins = m.insert.map(cond => (cond.column, Map("v" -> col("nv"), "p" -> col("np"))))
        val nUpd = m.nmbsUpdate.map(w => (w.column, Map("v" -> (col("v") + 100))))
        val nDel = m.nmbsDelete.map(_.column)
        val del = m.delete.map(_.column)
        if (mor) RefTableMutations.mergeClausesMergeOnRead(spark, root, df, Seq("k"),
          upd, del, ins, partitionColumns = pcs, notMatchedBySourceUpdate = nUpd,
          notMatchedBySourceDelete = nDel, nmbsUpdateFirst = m.nmbsUpdateFirst)
        else RefTableMutations.mergeClauses(spark, root, df, Seq("k"),
          upd, del, ins, partitionColumns = pcs, notMatchedBySourceUpdate = nUpd,
          notMatchedBySourceDelete = nDel, nmbsUpdateFirst = m.nmbsUpdateFirst)
      case ApplyChanges(src) =>
        val df = src.map(s => (s.k, s.v, s.p, s.op)).toDF("k", "v", "p", "change_type")
        if (mor) RefTableMutations.applyChangesMergeOnRead(spark, root, df, Seq("k"),
          partitionColumns = pcs)
        else RefTableMutations.applyChanges(spark, root, df, Seq("k"), partitionColumns = pcs)
    }
  }

  private def check(layout: Layout, seed: Long): Unit = {
    val prop = Prop.forAllNoShrink(genCase(partitionSets, opsPerCase), genSplitBytes) {
        case ((init, ops), splitBytes) =>
      val dir = Files.createTempDirectory("graft_diff").toFile
      val prevSplit = spark.conf.getOption(SplitBytesKey)
      splitBytes.foreach(spark.conf.set(SplitBytesKey, _))
      try {
        val cow = s"$dir/cow"
        val mor = s"$dir/mor"
        publish(init, cow, layout)
        publish(init, mor, layout)
        ops.zipWithIndex.foldLeft(init.sorted) { case (model, (op, i)) =>
          val expected = op.model(model).sorted
          run(op, cow, layout, mor = false)
          run(op, mor, layout, mor = true)
          Seq("copy-on-write" -> cow, "merge-on-read" -> mor).foreach { case (name, root) =>
            val got = tableRows(root, layout)
            if (got != expected) throw new AssertionError(
              s"$layout (maxPartitionBytes ${splitBytes.getOrElse("default")}): " +
                s"$name diverged from the model at op $i of\n  " +
                ops.take(i + 1).mkString("\n  ") +
                s"\n  initial ${init.size} rows; missing ${expected.diff(got)}; " +
                s"extra ${got.diff(expected)}")
          }
          expected
        }
        true
      } finally {
        prevSplit.fold(spark.conf.unset(SplitBytesKey))(spark.conf.set(SplitBytesKey, _))
        org.apache.commons.io.FileUtils.deleteQuietly(dir)
      }
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(casesPerLayout)
      .withWorkers(1).withInitialSeed(Seed(seed))
    val result = Test.check(params, prop)
    result.status match {
      case Test.PropException(_, e, _) => throw e
      case other => assert(result.passed, s"seed $seed: $other")
    }
  }

  test("COW and MoR agree with the model: flat layout") { check(Flat, 20261019L) }
  test("COW and MoR agree with the model: partitioned by p") { check(Partitioned, 20261020L) }
  test("COW and MoR agree with the model: bucketed by k") { check(Bucketed, 20261021L) }
}

object MutationDifferentialSpec {
  /** One table row; the partition value is never NULL. */
  final case class R(k: Option[Long], v: Option[Long], p: String)
  implicit val rowOrdering: Ordering[R] =
    Ordering.by((r: R) => (r.k.getOrElse(Long.MinValue), r.k.isEmpty, r.v, r.p))

  /** A source row: a key, a value, a partition value and an op marker. */
  final case class S(k: Option[Long], v: Option[Long], p: String, op: Option[String])

  sealed trait Layout { def partitionColumns: Seq[String] = Nil }
  case object Flat extends Layout
  case object Partitioned extends Layout { override def partitionColumns = Seq("p") }
  case object Bucketed extends Layout

  /** SQL three-valued logic: None is NULL. */
  private def and3(a: Option[Boolean], b: Option[Boolean]) =
    if (a.contains(false) || b.contains(false)) Some(false)
    else if (a.isEmpty || b.isEmpty) None else Some(true)
  private def or3(a: Option[Boolean], b: Option[Boolean]) =
    if (a.contains(true) || b.contains(true)) Some(true)
    else if (a.isEmpty || b.isEmpty) None else Some(false)

  /** A predicate over the target row, as a Column and as its model. */
  sealed trait Pred { def column: Column; def eval(r: R): Option[Boolean] }
  final case class KLt(c: Long) extends Pred {
    def column: Column = col("k") < c
    def eval(r: R): Option[Boolean] = r.k.map(_ < c)
  }
  final case class VGt(c: Long) extends Pred {
    def column: Column = col("v") > c
    def eval(r: R): Option[Boolean] = r.v.map(_ > c)
  }
  final case class KMod(m: Long, rem: Long) extends Pred {
    def column: Column = col("k") % m === rem
    def eval(r: R): Option[Boolean] = r.k.map(_ % m == rem)
  }
  final case class KIn(ks: Seq[Long]) extends Pred {
    def column: Column = col("k").isin(ks: _*)
    def eval(r: R): Option[Boolean] = r.k.map(ks.contains)
  }
  case object VNull extends Pred {
    def column: Column = col("v").isNull
    def eval(r: R): Option[Boolean] = Some(r.v.isEmpty)
  }
  final case class PEq(p: String) extends Pred {
    def column: Column = col("p") === p
    def eval(r: R): Option[Boolean] = Some(r.p == p)
  }
  final case class And(a: Pred, b: Pred) extends Pred {
    def column: Column = a.column && b.column
    def eval(r: R): Option[Boolean] = and3(a.eval(r), b.eval(r))
  }
  final case class Or(a: Pred, b: Pred) extends Pred {
    def column: Column = a.column || b.column
    def eval(r: R): Option[Boolean] = or3(a.eval(r), b.eval(r))
  }

  /** A SET right-hand side over the old row. */
  sealed trait Expr { def column: Column; def eval(r: R): Any }
  final case class VPlus(d: Long) extends Expr {
    def column: Column = col("v") + d
    def eval(r: R): Any = r.v.map(_ + d)
  }
  final case class VLit(v: Option[Long]) extends Expr {
    def column: Column = v.fold(lit(null))(lit(_)).cast("bigint")
    def eval(r: R): Any = v
  }
  final case class PLit(p: String) extends Expr {
    def column: Column = lit(p)
    def eval(r: R): Any = p
  }

  /** A source-row clause condition on the op marker (NULL when it is). */
  final case class OpIs(op: String) {
    def column: Column = col("op") === op
    def eval(s: S): Option[Boolean] = s.op.map(_ == op)
  }

  sealed trait Op { def model(t: Seq[R]): Seq[R] }

  final case class Delete(where: Pred) extends Op {
    def model(t: Seq[R]): Seq[R] = t.filterNot(r => where.eval(r).contains(true))
  }

  final case class Update(set: Map[String, Expr], where: Pred) extends Op {
    def model(t: Seq[R]): Seq[R] = t.map { r =>
      if (!where.eval(r).contains(true)) r
      else R(r.k,
        set.get("v").fold(r.v)(_.eval(r).asInstanceOf[Option[Long]]),
        set.get("p").fold(r.p)(_.eval(r).asInstanceOf[String]))
    }
  }

  final case class Upsert(src: Seq[R]) extends Op {
    def model(t: Seq[R]): Seq[R] = {
      val keys = src.flatMap(_.k).toSet
      t.filterNot(_.k.exists(keys)) ++ src
    }
  }

  final case class Merge(src: Seq[S], update: Option[(OpIs, Boolean)], delete: Option[OpIs],
      insert: Option[OpIs], nmbsUpdate: Option[Pred], nmbsDelete: Option[Pred],
      nmbsUpdateFirst: Boolean) extends Op {
    def model(t: Seq[R]): Seq[R] = {
      val byKey = src.filter(_.k.nonEmpty).map(s => s.k.get -> s).toMap
      val kept = t.flatMap { r =>
        r.k.flatMap(byKey.get) match {
          case Some(s) =>
            if (delete.exists(_.eval(s).contains(true))) None
            else if (update.exists(_._1.eval(s).contains(true)))
              Some(R(r.k, s.v, if (update.get._2) s.p else r.p))
            else Some(r)
          case None =>
            val nd = nmbsDelete.exists(_.eval(r).contains(true))
            val nu = nmbsUpdate.exists(_.eval(r).contains(true))
            val image = R(r.k, r.v.map(_ + 100), r.p)
            if (nmbsUpdateFirst) { if (nu) Some(image) else if (nd) None else Some(r) }
            else { if (nd) None else if (nu) Some(image) else Some(r) }
        }
      }
      val live = t.flatMap(_.k).toSet
      kept ++ src.filter(s => insert.exists(_.eval(s).contains(true)) && !s.k.exists(live))
        .map(s => R(s.k, s.v, s.p))
    }
  }

  final case class ApplyChanges(src: Seq[S]) extends Op {
    def model(t: Seq[R]): Seq[R] = {
      val changed = src.filter(_.op.nonEmpty).flatMap(_.k).toSet
      t.filterNot(_.k.exists(changed)) ++
        src.filter(s => s.op.exists(_ != "delete")).map(s => R(s.k, s.v, s.p))
    }
  }

  private val parts = Seq("a", "b", "c")
  private val genKey: Gen[Long] = Gen.choose(0L, 299L)
  private val genV: Gen[Option[Long]] = Gen.frequency(1 -> Gen.const(None),
    5 -> Gen.choose(0L, 999L).map(Some(_)))
  private val genP: Gen[String] = Gen.oneOf(parts)

  private def genLeaf: Gen[Pred] = Gen.oneOf(
    Gen.choose(0L, 40L).map(KLt(_)),
    Gen.choose(800L, 999L).map(VGt(_)),
    for { m <- Gen.oneOf(7L, 11L, 13L); rem <- Gen.choose(0L, 6L) } yield KMod(m, rem),
    genKey.map(k => KIn(Seq(k))),
    Gen.listOfN(4, genKey).map(ks => KIn(ks.distinct)),
    Gen.const(VNull),
    genP.map(PEq(_)))
  private def genPred: Gen[Pred] = Gen.frequency(
    3 -> genLeaf,
    1 -> (for { a <- genLeaf; b <- genLeaf } yield And(a, b)),
    1 -> (for { a <- genLeaf; b <- genLeaf } yield Or(a, b)))

  /** `n` rows with distinct non-null keys, plus maybe one null-key row. */
  private def genKeyed[T](n: Int, row: Option[Long] => Gen[T]): Gen[Seq[T]] = for {
    keys <- Gen.listOfN(n, genKey).map(_.distinct)
    nullKey <- Gen.frequency(3 -> false, 1 -> true)
    rows <- Gen.sequence[Seq[T], T](
      (keys.map(Some(_)) ++ (if (nullKey) Seq(None) else Nil)).map(row))
  } yield rows

  private def genR(k: Option[Long]): Gen[R] = for { v <- genV; p <- genP } yield R(k, v, p)
  private def genS(ops: Seq[Option[String]])(k: Option[Long]): Gen[S] =
    for { v <- genV; p <- genP; op <- Gen.oneOf(ops) } yield S(k, v, p, op)

  private def genOp(partitionSets: Boolean): Gen[Op] = Gen.frequency(
    2 -> genPred.map(Delete(_)),
    2 -> (for {
      v <- Gen.oneOf(Gen.choose(1L, 9L).map(VPlus(_)), genV.map(VLit(_)))
      p <- if (partitionSets) Gen.option(genP.map(PLit(_))) else Gen.const(None)
      where <- genPred
    } yield Update(Map("v" -> v) ++ p.map("p" -> _), where)),
    2 -> Gen.choose(1, 8).flatMap(n => genKeyed(n, genR)).map(Upsert(_)),
    3 -> (for {
      n <- Gen.choose(1, 8)
      src <- genKeyed(n, genS(Seq(Some("upd"), Some("del"), Some("ins"), None)))
      update <- Gen.option(Gen.zip(Gen.oneOf(OpIs("upd"), OpIs("ins"), OpIs("del")),
        if (partitionSets) Gen.oneOf(true, false) else Gen.const(false)))
      delete <- Gen.option(Gen.const(OpIs("del")))
      insert <- Gen.option(Gen.oneOf(OpIs("ins"), OpIs("upd")))
      nmbs <- Gen.frequency(2 -> Gen.const(false), 1 -> Gen.const(true))
      nUpd <- if (nmbs) Gen.option(genPred) else Gen.const(None)
      nDel <- if (nmbs) Gen.option(genPred) else Gen.const(None)
      first <- Gen.oneOf(true, false)
    } yield Merge(src, update, delete, insert, nUpd, nDel, first)),
    2 -> Gen.choose(1, 8).flatMap(n => genKeyed(n,
      genS(Seq(Some("insert"), Some("update"), Some("delete"), None)))).map(ApplyChanges(_)))

  val SplitBytesKey = "spark.sql.files.maxPartitionBytes"

  /** The split and rewrite-file target of a case: None keeps the session's. */
  val genSplitBytes: Gen[Option[String]] = Gen.oneOf(None, Some("2k"))

  /** A ≤200-row table (a few null-key rows among them) and `ops` DMLs. */
  def genCase(partitionSets: Boolean, ops: Int): Gen[(Seq[R], Seq[Op])] = for {
    n <- Gen.choose(20, 197)
    keys <- Gen.pick(n, 0L until 300L)
    nulls <- Gen.choose(0, 3)
    init <- Gen.sequence[Seq[R], R](
      (keys.toSeq.map(Some(_)) ++ Seq.fill(nulls)(None)).map(genR))
    seq <- Gen.listOfN(ops, genOp(partitionSets))
  } yield (init, seq)
}
