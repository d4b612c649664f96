package graft.sources.reftable

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, expr, pmod, substring, to_date}
import org.apache.spark.sql.types._

/** Hidden partitioning — Iceberg-style partition TRANSFORMS. The table is
  * laid out under derived directories (`ts_day=2024-01-07/`,
  * `user_id_bucket=7/`) while the SOURCE column stays stored in the data
  * files, so readers never decode directories and queries never mention
  * the transform: a plain predicate on `ts` prunes `ts_day` directories
  * at listing time, before stats manifests or footers are touched. This
  * is the layout contract Hive-style identity partitioning cannot give —
  * users filter on the real column, the engine owns the directory shape.
  *
  * Supported transforms (the Iceberg core set):
  *  - `days(col)`          col: TIMESTAMP/TIMESTAMP_NTZ/DATE → UTC date dirs
  *  - `hours(col)`         col: TIMESTAMP/TIMESTAMP_NTZ → UTC hour dirs
  *  - `bucket(n, col)`     col: INT/BIGINT/STRING → `pmod(hash(col), n)` dirs
  *                         (Spark Murmur3, the same hash the bucketed
  *                         layout and bucket-narrowed mutations use)
  *  - `truncate(w, col)`   col: STRING (w-char prefix) or INT/BIGINT
  *                         (floor to a multiple of w)
  *
  * Pruning is the same possible-outcome algebra as identity partitioning
  * ([[RefTablePartitioning]]): each transform maps (dir value, predicate
  * leaf) to the outcomes rows of that directory can produce — exact where
  * decidable (day ranges, prefix order), conservative everywhere else
  * (bucket answers only equality/IN; an appended file WITHOUT the
  * transform directory evaluates Unknown and is kept). Writes other than a
  * [[Layout.Hidden]] publish (appends, mutations) degrade the layout, never
  * correctness — the manifest records no dir value for their files, so
  * they survive every prune until a restoring publish re-derives them.
  */
object RefTableTransforms {

  sealed trait Transform {
    def source: String

    /** Directory column name (`<source>_<kind>`). */
    def dirName: String

    /** The derivation, for the write path. */
    def sparkExpr: Column

    /** Possible outcomes of `op(source, v)` over rows of a directory whose
      * transform value is `raw` — `op` is one of the comparison shapes in
      * [[RefTablePartitioning.eval]], encoded by `cmp`: the evaluator
      * passes a comparison test and this returns which Tri outcomes rows
      * of the directory can take, or Unknown when the transform cannot
      * bound it.
      */
    def outcomes(raw: String, v: Any, test: Int => Boolean): RefTablePartitioning.Tri
  }

  import RefTablePartitioning.{Tri, True, False, Null, Unknown}

  /** Band comparison shared by days/truncate-int: every row of the
    * directory falls in [lo, hi] (inclusive) on a monotone image of the
    * column; the literal maps to point `p`. A comparison test decided the
    * same way for the whole band is exact; a band containing `p` is
    * {t,f}.
    */
  private def bandOutcome(lo: Long, hi: Long, p: Long, test: Int => Boolean): Tri = {
    val below = test(-1)
    val equal = test(0)
    val above = test(1)
    if (hi < p) { if (below) True else False }
    else if (lo > p) { if (above) True else False }
    else {
      // the band contains p: rows compare below/equal/above depending on
      // their exact value — possible outcomes are the union
      val canT = (lo < p && below) || equal || (hi > p && above)
      val canF = (lo < p && !below) || !equal || (hi > p && !above)
      Tri(canT, canF, n = false)
    }
  }

  final case class Days(source: String) extends Transform {
    val dirName = s"${source}_day"
    def sparkExpr: Column = to_date(col(source))
    def outcomes(raw: String, v: Any, test: Int => Boolean): Tri = {
      val day = java.time.LocalDate.parse(raw.trim)
      val loMicros = day.toEpochDay * 86400L * 1000000L
      val hiMicros = loMicros + 86400L * 1000000L - 1L
      val p: Long = v match {
        case t: java.sql.Timestamp =>
          val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000L
        case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
        case l: java.time.LocalDateTime =>
          val i = l.toInstant(java.time.ZoneOffset.UTC)
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400L * 1000000L
        case d: java.time.LocalDate => d.toEpochDay * 86400L * 1000000L
        case _ => return Unknown
      }
      bandOutcome(loMicros, hiMicros, p, test)
    }
  }

  final case class Hours(source: String) extends Transform {
    val dirName = s"${source}_hour"
    def sparkExpr: Column =
      org.apache.spark.sql.functions.date_format(col(source), "yyyy-MM-dd-HH")
    def outcomes(raw: String, v: Any, test: Int => Boolean): Tri = {
      // dir value "yyyy-MM-dd-HH" (UTC under the pinned session)
      val parts = raw.trim.split("-")
      val day = java.time.LocalDate.of(parts(0).toInt, parts(1).toInt, parts(2).toInt)
      val loMicros = (day.toEpochDay * 86400L + parts(3).toInt * 3600L) * 1000000L
      val hiMicros = loMicros + 3600L * 1000000L - 1L
      val p: Long = v match {
        case t: java.sql.Timestamp =>
          val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000L
        case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
        case l: java.time.LocalDateTime =>
          val i = l.toInstant(java.time.ZoneOffset.UTC)
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        case _ => return Unknown
      }
      bandOutcome(loMicros, hiMicros, p, test)
    }
  }

  final case class Bucket(n: Int, source: String, sourceType: DataType) extends Transform {
    val dirName = s"${source}_bucket"
    def sparkExpr: Column =
      pmod(org.apache.spark.sql.functions.hash(col(source)), org.apache.spark.sql.functions.lit(n))
    def outcomes(raw: String, v: Any, test: Int => Boolean): Tri = {
      // only equality is decidable from a hash bucket: the test must be
      // exactly "== 0 passes, <0 and >0 fail" (Eq / the In disjunction)
      if (!test(0) || test(-1) || test(1)) return Unknown
      try {
        val catalystV = org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(v)
        val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
          Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(catalystV, sourceType)), 42)
          .eval(null).asInstanceOf[Int]
        val b = ((h % n) + n) % n
        if (b == raw.trim.toInt) Tri(t = true, f = true, n = false) else False
      } catch { case NonFatal(_) => Unknown }
    }
  }

  final case class TruncateStr(w: Int, source: String) extends Transform {
    val dirName = s"${source}_trunc"
    def sparkExpr: Column = substring(col(source), 1, w)
    def outcomes(raw: String, v: Any, test: Int => Boolean): Tri = {
      val s = v match {
        case s: String => s
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case _ => return Unknown
      }
      val p = s.take(w)
      val c = raw.compareTo(p)
      if (c < 0) { if (test(-1)) True else False }
      else if (c > 0) { if (test(1)) True else False }
      else Tri(t = test(-1) || test(0) || test(1),
        f = !test(-1) || !test(0) || !test(1), n = false)
    }
  }

  final case class TruncateInt(w: Long, source: String) extends Transform {
    val dirName = s"${source}_trunc"
    def sparkExpr: Column = expr(s"$source - pmod($source, $w)")
    def outcomes(raw: String, v: Any, test: Int => Boolean): Tri = {
      val lo = raw.trim.toLong
      val p = v match {
        case num: Number => num.longValue()
        case _ => return Unknown
      }
      bandOutcome(lo, lo + w - 1, p, test)
    }
  }

  private val DaysRe = """^days\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$""".r
  private val HoursRe = """^hours\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$""".r
  private val BucketRe = """^bucket\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$""".r
  private val TruncRe = """^truncate\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$""".r
  // every form's source column is its last argument
  private val SourceRe = """([A-Za-z_][A-Za-z0-9_]*)(\s*\))$""".r

  /** Whether `spec` follows the transform grammar (no schema check). */
  def wellFormed(spec: String): Boolean =
    Seq(DaysRe, HoursRe, BucketRe, TruncRe).exists(_.matches(spec.trim))

  /** `spec` with its source column renamed by `f`. */
  def renameSource(spec: String, f: String => String): String =
    SourceRe.replaceAllIn(spec, m =>
      scala.util.matching.Regex.quoteReplacement(f(m.group(1)) + m.group(2)))

  /** Parse one `hiddenPartitions` entry against the declared schema;
    * errors are returned for the option validator to collect.
    */
  def parse(schema: StructType, spec: String): Either[String, Transform] = {
    def typeOf(c: String): Either[String, DataType] =
      schema.fields.find(_.name == c).map(_.dataType)
        .toRight(s"hiddenPartitions: column '$c' not in the schema")
    spec.trim match {
      case DaysRe(c) => typeOf(c).flatMap {
        case TimestampType | TimestampNTZType | DateType => Right(Days(c))
        case other => Left(s"hiddenPartitions: days($c) needs a timestamp/date column, got ${other.sql}")
      }
      case HoursRe(c) => typeOf(c).flatMap {
        case TimestampType | TimestampNTZType => Right(Hours(c))
        case other => Left(s"hiddenPartitions: hours($c) needs a timestamp column, got ${other.sql}")
      }
      case BucketRe(n, c) => typeOf(c).flatMap {
        case dt @ (IntegerType | LongType | StringType) =>
          if (n.toInt > 0) Right(Bucket(n.toInt, c, dt))
          else Left(s"hiddenPartitions: bucket needs a positive count, got $n")
        case other => Left(s"hiddenPartitions: bucket(_, $c) needs int/bigint/string, got ${other.sql}")
      }
      case TruncRe(w, c) => typeOf(c).flatMap {
        case StringType =>
          if (w.toInt > 0) Right(TruncateStr(w.toInt, c)) else Left("hiddenPartitions: truncate width must be positive")
        case IntegerType | LongType =>
          if (w.toLong > 0) Right(TruncateInt(w.toLong, c)) else Left("hiddenPartitions: truncate width must be positive")
        case other => Left(s"hiddenPartitions: truncate(_, $c) needs string/int/bigint, got ${other.sql}")
      }
      case other => Left(
        s"hiddenPartitions: cannot parse '$other' (expected days(col), hours(col), bucket(n, col) or truncate(w, col))")
    }
  }
}
