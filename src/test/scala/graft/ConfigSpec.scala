package graft

import graft.sources.reftable.{Durations, RefTableOptions, SchemaJson}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.Random

/** Mirrors the reference's config-validation unit tests
  * (TableStreamingSourceConfigTest.java): a valid baseline config plus
  * mutated negative cases, asserting the offending option is named.
  */
class ConfigSpec extends AnyFunSuite {

  private val baseSchema =
    """{"type":"record","name":"row","fields":[
      |  {"name":"key","type":"long"},
      |  {"name":"name","type":["string","null"]},
      |  {"name":"score","type":["double","null"]},
      |  {"name":"ok","type":["boolean","null"]}]}""".stripMargin

  private def opts(kv: (String, String)*): CaseInsensitiveStringMap = {
    val base = Map("path" -> "/tmp/x", "schema" -> baseSchema)
    new CaseInsensitiveStringMap((base ++ kv.toMap).asJava)
  }

  // reference: TableStreamingSourceConfigTest.java:49-53 (valid config)
  test("hiddenPartitions refuses the global layouts no write keeps alongside it") {
    val schema = "key BIGINT, ts TIMESTAMP"
    for (opt <- Seq("clusterBy", "zorderBy", "bucketBy")) {
      val e = intercept[IllegalArgumentException] {
        RefTableOptions.from(opts("schema" -> schema, "hiddenPartitions" -> "days(ts)",
          opt -> "key"))
      }
      assert(e.getMessage.contains("hiddenPartitions"), e.getMessage)
    }
  }

  test("valid config parses") {
    val o = RefTableOptions.from(opts())
    assert(o.schema.fieldNames.toSeq == Seq("key", "name", "score", "ok"))
    assert(o.refreshMs == 3600 * 1000L) // default 1h
  }

  // reference :56-64 (valid rowField)
  test("valid rowField accepted") {
    val o = RefTableOptions.from(opts("rowField" -> "key", "keyColumn" -> "id"))
    assert(o.rowField.contains("key"))
    assert(o.storageColumn("key") == "id")
    assert(o.storageColumn("name") == "name")
  }

  // reference :67-75 (valid refreshInterval "5d")
  test("refreshInterval 5d accepted") {
    val o = RefTableOptions.from(opts("refreshInterval" -> "5d"))
    assert(o.refreshMs == 5L * 24 * 3600 * 1000)
  }

  // reference :78-89 (rowField not in schema)
  test("rowField not in schema rejected") {
    val e = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("rowField" -> "nope", "keyColumn" -> "id"))
    }
    assert(e.getMessage.contains("rowField"))
  }

  // reference :92-103 (nullable rowField rejected; nullability is
  // load-bearing — TableStreamingSourceConfig.java:138-142)
  test("nullable rowField rejected") {
    val e = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("rowField" -> "name", "keyColumn" -> "id"))
    }
    assert(e.getMessage.contains("must not be nullable"))
  }

  // reference :106-117 (malformed refreshInterval "t3")
  test("malformed refreshInterval rejected") {
    val e = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("refreshInterval" -> "t3"))
    }
    assert(e.getMessage.contains("refreshInterval"))
  }

  test("admission-control options validate: positive counts, size literals") {
    assert(RefTableOptions.from(opts("maxFilesPerTrigger" -> "3")).maxFilesPerTrigger.contains(3))
    assert(RefTableOptions.from(opts("maxBytesPerTrigger" -> "64MB"))
      .maxBytesPerTrigger.contains(64L * 1024 * 1024))
    val e1 = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("maxFilesPerTrigger" -> "0"))
    }
    assert(e1.getMessage.contains("maxFilesPerTrigger"))
    val e2 = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("maxBytesPerTrigger" -> "lots"))
    }
    assert(e2.getMessage.contains("maxBytesPerTrigger"))
  }

  test("filter option validates syntax and column names at analysis time") {
    assert(RefTableOptions.from(opts("filter" -> "key >= 10 AND score < 2.5"))
      .filterSql.contains("key >= 10 AND score < 2.5"))
    val e1 = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("filter" -> "key >= AND"))
    }
    assert(e1.getMessage.contains("filter"))
    val e2 = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("filter" -> "nope > 3"))
    }
    assert(e2.getMessage.contains("unknown column"))
    assert(e2.getMessage.contains("nope"))
  }

  test("strictSnapshot refuses admission caps (chunked restart is at-least-once)") {
    assert(RefTableOptions.from(opts("strictSnapshot" -> "true")).strictSnapshot)
    assert(!RefTableOptions.from(opts()).strictSnapshot)
    // unchunked strict reads are fine; chunking under strictSnapshot is a
    // config error naming both the option and the reason
    val e1 = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("strictSnapshot" -> "true", "maxFilesPerTrigger" -> "2"))
    }
    assert(e1.getMessage.contains("strictSnapshot"))
    assert(e1.getMessage.contains("at-least-once"))
    val e2 = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("strictSnapshot" -> "true", "maxBytesPerTrigger" -> "64MB"))
    }
    assert(e2.getMessage.contains("strictSnapshot"))
  }

  test("groupByPartition without partitionColumns rejected at analysis") {
    val e = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("groupByPartition" -> "true"))
    }
    assert(e.getMessage.contains("groupByPartition"))
    assert(e.getMessage.contains("partitionColumns"))
  }

  // reference :120-131 (malformed schema JSON)
  test("malformed schema rejected") {
    val e = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("schema" -> "{not json"))
    }
    assert(e.getMessage.contains("schema"))
  }

  test("missing schema rejected (no inference)") {
    val m = new CaseInsensitiveStringMap(Map("path" -> "/tmp/x").asJava)
    val e = intercept[IllegalArgumentException](RefTableOptions.from(m))
    assert(e.getMessage.contains("schema"))
  }

  test("duration grammar: exact reference semantics") {
    assert(Durations.parse("5s") == 5000L)
    assert(Durations.parse("10m") == 600000L)
    assert(Durations.parse("1h") == 3600000L)
    assert(Durations.parse("2d") == 172800000L)
    intercept[IllegalArgumentException](Durations.parse("5"))
    intercept[IllegalArgumentException](Durations.parse("s5"))
    intercept[IllegalArgumentException](Durations.parse("5w"))
    intercept[IllegalArgumentException](Durations.parse("5 s"))
    intercept[IllegalArgumentException](Durations.parse("-5s"))
  }

  test("duration property: n + unit round-trips for all valid units") {
    val units = Map("s" -> 1000L, "m" -> 60000L, "h" -> 3600000L, "d" -> 86400000L)
    val rnd = new Random(42)
    for (_ <- 1 to 200; u <- units.keys) {
      val n = rnd.nextLong(1000000L)
      assert(Durations.parse(s"$n$u") == n * units(u))
    }
  }

  test("schema JSON round-trip property: flat record schemas survive render+parse") {
    val types = Seq("boolean" -> BooleanType, "int" -> IntegerType, "long" -> LongType,
      "float" -> FloatType, "double" -> DoubleType, "string" -> StringType, "bytes" -> BinaryType)
    val rnd = new Random(7)
    for (_ <- 1 to 100) {
      val n = 1 + rnd.nextInt(8)
      val fields = (0 until n).map { i =>
        val (tn, dt) = types(rnd.nextInt(types.size))
        val nullable = rnd.nextBoolean()
        (s"f$i", tn, dt, nullable)
      }
      val json = fields.map { case (name, tn, _, nullable) =>
        if (nullable) s"""{"name":"$name","type":["$tn","null"]}"""
        else s"""{"name":"$name","type":"$tn"}"""
      }.mkString("""{"type":"record","name":"r","fields":[""", ",", "]}")
      val parsed = SchemaJson.parse(json)
      assert(parsed.fields.toSeq == fields.map { case (name, _, dt, nullable) =>
        StructField(name, dt, nullable)
      })
    }
  }

  test("schema JSON: primitives, nullability, DDL fallback") {
    val st = SchemaJson.parse(baseSchema)
    assert(st("key") == StructField("key", LongType, nullable = false))
    assert(st("name") == StructField("name", StringType, nullable = true))
    assert(st("score").dataType == DoubleType)
    assert(st("ok").dataType == BooleanType)
    val ddl = SchemaJson.parse("a INT, b STRING")
    assert(ddl.fieldNames.toSeq == Seq("a", "b"))
    intercept[IllegalArgumentException](SchemaJson.parse("""{"type":"enum"}"""))
    intercept[IllegalArgumentException](
      SchemaJson.parse("""{"type":"record","name":"r","fields":[{"name":"x","type":"matrix"}]}"""))
  }

  // reference: FailureCollector attribution — every failure is tagged with
  // the offending config property (TableStreamingSourceConfig.java:116-143
  // `.withConfigProperty(...)`), so an integrating tool can route messages
  // to fields. The batched human-readable text is unchanged.
  test("validation failures carry structured (option -> message) attribution") {
    import graft.sources.reftable.RefTableValidationException
    def failuresOf(kv: (String, String)*): Seq[(String, String)] =
      intercept[RefTableValidationException](RefTableOptions.from(opts(kv: _*))).failures

    // the reference's own negative cases, one property each
    assert(failuresOf("rowField" -> "nope", "keyColumn" -> "id")
      .map(_._1) == Seq("rowField"))
    assert(failuresOf("refreshInterval" -> "five minutes")
      .map(_._1) == Seq("refreshInterval"))
    val m = new CaseInsensitiveStringMap(Map("schema" -> baseSchema).asJava)
    assert(intercept[RefTableValidationException](RefTableOptions.from(m))
      .failures.map(_._1) == Seq("path"))

    // several failures batch, each tagged with ITS property, order preserved
    val many = failuresOf(
      "rowField" -> "nope", "keyColumn" -> "id",
      "refreshInterval" -> "1 hr", "keepVersions" -> "0")
    assert(many.map(_._1) == Seq("rowField", "refreshInterval", "keepVersions"))
    assert(many.forall { case (p, msg) => msg.toLowerCase.contains(p.toLowerCase) })

    // the thrown text remains the batched form existing handlers parse
    val e = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("rowField" -> "nope", "keyColumn" -> "id",
        "refreshInterval" -> "1 hr"))
    }
    assert(e.getMessage.startsWith("Invalid reftable options:"))
    assert(e.getMessage.contains("rowField") && e.getMessage.contains("refreshInterval"))
  }

  test("per-file stats declared on a partition column are refused") {
    import graft.sources.reftable.RefTableValidationException
    for (opt <- Seq("categoricalStats", "bloomStats", "ndvStats")) {
      val e = intercept[RefTableValidationException](RefTableOptions.from(opts(
        "partitionColumns" -> "name", opt -> "name")))
      assert(e.failures.map(_._1) == Seq(opt), e.getMessage)
      assert(e.getMessage.contains("is a partition column"))
    }
    // a stats column beside the partition column stays valid
    assert(RefTableOptions.from(opts("partitionColumns" -> "name", "bloomStats" -> "key"))
      .bloomStats == Seq("key"))
  }

  test("generationAt: floor(now / refreshInterval), 0 without a refresh interval") {
    val o = RefTableOptions.from(opts("refreshInterval" -> "2s"))
    assert(Seq(0L, 1999L, 2000L, 5999L, 6000L).map(o.generationAt) == Seq(0L, 0L, 1L, 2L, 3L))
    assert(o.copy(refreshMs = 0L).generationAt(123456789L) == 0L)
  }

  test("expectations validate at analysis: predicates, columns, onViolation") {
    val o = RefTableOptions.from(opts(
      "expect.pos" -> "key > 0", "expect.named" -> "length(name) >= 2",
      "onViolation" -> "drop"))
    assert(o.expectations == Seq("named" -> "length(name) >= 2", "pos" -> "key > 0"))
    assert(o.onViolation == "drop")

    val e1 = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("expect.bad" -> "nope_col > 0"))
    }
    assert(e1.getMessage.contains("unknown column"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("expect.bad" -> "key >"))
    }
    assert(e2.getMessage.contains("Invalid expectation"), e2.getMessage)
    // quarantine is a VALID mode (reserving _violated); junk is not
    assert(RefTableOptions.from(opts("expect.pos" -> "key > 0",
      "onViolation" -> "quarantine")).onViolation == "quarantine")
    val e3 = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("expect.pos" -> "key > 0", "onViolation" -> "sidechannel"))
    }
    assert(e3.getMessage.contains("onViolation"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      RefTableOptions.from(opts("onViolation" -> "drop"))
    }
    assert(e4.getMessage.contains("no effect"), e4.getMessage)
  }
}
