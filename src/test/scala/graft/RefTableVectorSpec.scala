package graft

import java.nio.file.Files

import graft.sources.reftable.{RefTableMutations, VersionedTable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** First-class vector columns through the source: single-level
  * array<float|double|int|long|string|boolean|binary> decode on BOTH read
  * paths — the vectorized reader serves arrays through Spark's own
  * nested-column decode (parquet LIST → offsets + child vector), so an
  * embedding column no longer demotes the file to the row-oriented Group
  * reader. Deeper nesting is refused at ANALYSIS time with the
  * PackVector/BINARY workaround named.
  */
class RefTableVectorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_vec_$name").toString + "/t"

  test("array<float> embeddings roundtrip through publish + source scan") {
    import spark.implicits._
    val root = tmp("roundtrip")
    val rows = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), 0),
      (2L, Array(0.5f, -0.5f, 4.25f), 1),
      (3L, Array.empty[Float], 0),
      (4L, null.asInstanceOf[Array[Float]], 1))
    VersionedTable.publish(rows.toDF("vec_id", "embedding", "label"), root)
    val got = spark.read.format("reftable")
      .option("path", root)
      .option("schema", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
      .load().orderBy("vec_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got(0).getSeq[Float](1) == Seq(1.0f, 2.0f, 3.0f))
    assert(got(1).getSeq[Float](1) == Seq(0.5f, -0.5f, 4.25f))
    assert(got(2).getSeq[Float](1) == Seq.empty, "empty array is NOT null")
    assert(got(3).isNullAt(1), "null array stays null")
    // the vector composes with expressions like any column
    val dots = spark.read.format("reftable")
      .option("path", root)
      .option("schema", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
      .load()
      .filter(col("vec_id") <= 2L)
      .select(col("vec_id"),
        aggregate(col("embedding"), lit(0.0d), (a, x) => a + x.cast("double")).as("s"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(dots == Seq((1L, 6.0d), (2L, 4.25d)))
  }

  test("declared array<double> widens float-file elements; array<string> tokens decode") {
    import spark.implicits._
    val root = tmp("widen")
    VersionedTable.publish(
      Seq((1L, Array(1.5f, 2.5f), Array("a", "b")))
        .toDF("id", "v", "toks"), root)
    val got = spark.read.format("reftable")
      .option("path", root)
      .option("schema", "id BIGINT, v ARRAY<DOUBLE>, toks ARRAY<STRING>")
      .load().collect().head
    assert(got.getSeq[Double](1) == Seq(1.5d, 2.5d))
    assert(got.getSeq[String](2) == Seq("a", "b"))
  }

  test("vector projections plan COLUMNAR (ColumnarToRow over the scan)") {
    import spark.implicits._
    val root = tmp("colvec")
    VersionedTable.publish(
      (1L to 50L).map(i => (i, Array(i.toFloat, i * 2.0f))).toDF("id", "emb"), root)
    val df = spark.read.format("reftable")
      .option("path", root)
      .option("schema", "id BIGINT, emb ARRAY<FLOAT>")
      .load().select("id", "emb")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"a projection TOUCHING the vector must stay on the vectorized reader, got:\n$plan")
    assert(df.count() == 50)
  }

  test("mixed vector + DECIMAL + DV read stays columnar and exact") {
    import spark.implicits._
    val root = tmp("mixed")
    VersionedTable.publish(
      (1L to 20L).map(i => (i, Array(i.toFloat, -i.toFloat),
        new java.math.BigDecimal(s"$i.25"))).toDF("id", "emb", "d")
        .select(col("id"), col("emb"), col("d").cast("decimal(10,2)").as("d")), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") % 4L === 0L)
    val df = spark.read.format("reftable")
      .option("path", root)
      .option("schema", "id BIGINT, emb ARRAY<FLOAT>, d DECIMAL(10,2)")
      .load()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"DV'd vector+decimal files must keep the vectorized decoder, got:\n$plan")
    val got = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq, r.getDecimal(2).toPlainString))
    assert(got.length == 15, "the DV masked 5 of 20 rows")
    assert(!got.exists(_._1 % 4 == 0))
    assert(got.head == ((1L, Seq(1.0f, -1.0f), "1.25")), got.head.toString)
  }

  test("legacy 2-level LIST files decode on the vectorized path") {
    import spark.implicits._
    val root = tmp("legacy")
    spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
    try VersionedTable.publish(
      (1L to 5L).map(i => (i, Array(i.toFloat, i + 0.5f))).toDF("id", "emb"), root)
    finally spark.conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    val df = spark.read.format("reftable")
      .option("path", root)
      .option("schema", "id BIGINT, emb ARRAY<FLOAT>")
      .load()
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val got = df.orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    assert(got.toSeq == (1L to 5L).map(i => (i, Seq(i.toFloat, i + 0.5f))))
  }

  test("vector columns survive merge-on-read deletes (DV-masked columnar path)") {
    import spark.implicits._
    val root = tmp("mor")
    VersionedTable.publish(
      (1L to 6L).map(i => (i, Array(i.toFloat, i * 2.0f))).toDF("id", "emb"), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") % 2L === 0L)
    val got = spark.read.format("reftable")
      .option("path", root)
      .option("schema", "id BIGINT, emb ARRAY<FLOAT>")
      .load().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    assert(got == Seq(
      (1L, Seq(1.0f, 2.0f)), (3L, Seq(3.0f, 6.0f)), (5L, Seq(5.0f, 10.0f))))
  }

  test("projections NOT touching the vector stay on the vectorized reader") {
    import spark.implicits._
    val root = tmp("colproj")
    VersionedTable.publish(
      (1L to 100L).map(i => (i, Array(i.toFloat), i % 3)).toDF("id", "emb", "lbl"), root)
    val scalarOnly = spark.read.format("reftable")
      .option("path", root)
      .option("schema", "id BIGINT, emb ARRAY<FLOAT>, lbl BIGINT")
      .load().select("id", "lbl")
    val plan = scalarOnly.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"scalar projection must plan columnar, got:\n$plan")
    assert(scalarOnly.agg(sum("id")).first().getLong(0) == 5050L)
  }

  test("deeper nesting refused at analysis time, naming the BINARY workaround") {
    val e = intercept[Exception] {
      spark.read.format("reftable")
        .option("path", "/tmp/nowhere")
        .option("schema", "id BIGINT, m MAP<STRING, INT>")
        .load()
    }
    assert(e.getMessage.contains("PackVector") && e.getMessage.contains("'m'"),
      e.getMessage)
    val e2 = intercept[Exception] {
      spark.read.format("reftable")
        .option("path", "/tmp/nowhere")
        .option("schema", "id BIGINT, vv ARRAY<ARRAY<FLOAT>>")
        .load()
    }
    assert(e2.getMessage.contains("array<array<float>>"), e2.getMessage)
  }

  test("the driver-generated embeddings table streams through the source unpacked") {
    val src = Tables.path("/root/testdata/sf0.001", "embeddings")
    import spark.implicits._
    val root = tmp("embed")
    VersionedTable.publish(spark.read.parquet(src), root)
    val ddl = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    val viaSource = spark.read.format("reftable")
      .option("path", root).option("schema", ddl).load()
      .select(col("vec_id"), element_at(col("embedding"), 1).as("e0"), col("label"))
    val bare = spark.read.parquet(src)
      .select(col("vec_id"), element_at(col("embedding"), 1).as("e0"), col("label"))
    assert(viaSource.exceptAll(bare).isEmpty && bare.exceptAll(viaSource).isEmpty)
  }
}
