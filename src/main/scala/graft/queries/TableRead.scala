package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.GraftFunctions._
import graft.functions.HashFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reftable read-path coverage: typed decoding, partitioned/bucketed/
  * clustered/z-ordered layouts, data skipping (min-max, categorical,
  * Bloom), aggregate pushdown, format round-trips, and versioned
  * snapshot reads. */
object TableRead {
  import RelationalSupport.t

  val defs: Seq[QueryDef] = Seq(
    // FIRST-CLASS VECTOR COLUMNS through the source: the embeddings table
    // (array<float>) publishes into a versioned root and reads back
    // through the reftable scan with the array decoded by the source
    // itself — no BINARY packing, and VECTORIZED: arrays ride Spark's
    // nested-column decode (parquet LIST → offsets + child vector), so the
    // embedding scan runs at the same batched ceiling as scalar columns
    // (RefTableVectorSpec pins the plan). The oracle aggregates the same
    // parquet in DuckDB: per-label counts, dimensions, first-element sum.
    QueryDef("q186_vector_scan", (s, dir) => {
      import graft.sources.reftable.VersionedTable
      val root = RelationalSupport.scratchDir(s, dir, "q186_vec")
      VersionedTable.publish(
        s.read.parquet(Tables.path(dir, "embeddings")), root)
      s.read.format("reftable")
        .option("path", root)
        .option("schema", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
        .load()
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum("vec_id").as("id_sum"),
          sum(size(col("embedding"))).as("dims"),
          r4(sum(element_at(col("embedding"), 1).cast("double"))).as("e0_sum"))
        .orderBy("label")
    }, Some(
      """SELECT label, count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum,
        |  CAST(sum(len(embedding)) AS BIGINT) AS dims,
        |  round(sum(CAST(embedding[1] AS DOUBLE)), 4) AS e0_sum
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)),

    // DECIMAL decode through the reftable source: the query derives a
    // decimal table from `customer`, reads it back through the source's
    // vectorized path, and aggregates; the oracle computes the same result
    // from the original table. The decimal sum is emitted as BIGINT cents
    // (exact — zero tolerance in the compare) rather than as a DECIMAL
    // column: a DECIMAL output dtype surfaces as Python Decimal objects on
    // the parquet side but float64 on the DuckDB side of the gate's
    // comparator, hash-mismatching identical values (q73 was red in r02/r03
    // with rows+schema matching while a both-sides-DuckDB compare passed).
    QueryDef("q73_reftable_decimal", (s, dir) => {
      // per-invocation path: unique per (session, sf) so concurrent runs
      // never overwrite each other mid-read; overwritten on re-run within a
      // session rather than leaking one copy per invocation
      val out = RelationalSupport.scratchDir(s, dir, "q73_refdec")
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal").cast("decimal(12,2)").as("bal"),
          col("c_nationkey"))
        .write.mode("overwrite").parquet(out)
      s.read.format("reftable")
        .option("path", out)
        .option("schema", "c_custkey BIGINT, bal DECIMAL(12,2), c_nationkey INT")
        .load()
        .groupBy("c_nationkey")
        .agg(sum("bal").as("total_dec"), count(lit(1)).as("n"))
        // exact: sum of scale-2 decimals × 100 has a zero fractional part,
        // so the long cast loses nothing regardless of sign
        .select(col("c_nationkey"), (col("total_dec") * 100).cast("long").as("total_cents"),
          col("n"))
        .orderBy("c_nationkey")
    }, Some(
      """SELECT c_nationkey,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) * 100 AS BIGINT) AS total_cents,
        |  count(*) AS n
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // DATE decode through the reftable source, same round-trip pattern.
    QueryDef("q74_reftable_date", (s, dir) => {
      val out = RelationalSupport.scratchDir(s, dir, "q74_refdate")
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
        .write.mode("overwrite").parquet(out)
      s.read.format("reftable")
        .option("path", out)
        .option("schema", "o_orderkey BIGINT, od DATE")
        .load()
        .groupBy("od")
        .agg(count(lit(1)).as("n"), min("o_orderkey").as("first_key"))
        .orderBy("od")
    }, Some(
      """SELECT CAST(o_orderdate AS DATE) AS od, count(*) AS n, min(o_orderkey) AS first_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Hive-partitioned snapshot through the reftable source: the table is
    // written as c_mktsegment=<v> directories, the source decodes the
    // partition value from the path (constant vector, zero per-row cost)
    // and the IN filter prunes the listing to 2 of 5 directories on the
    // driver (PlanSpec asserts the pruning; this oracle proves the values).
    QueryDef("q80_reftable_partitioned", (s, dir) => {
      val out = RelationalSupport.scratchDir(s, dir, "q80_refpart")
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey"), col("c_mktsegment"))
        .write.mode("overwrite").partitionBy("c_mktsegment").parquet(out)
      s.read.format("reftable")
        .option("path", out)
        .option("schema", "c_custkey BIGINT, c_acctbal DOUBLE, c_nationkey INT, c_mktsegment STRING")
        .option("partitionColumns", "c_mktsegment")
        .load()
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("n"), r4(sum("c_acctbal")).as("bal"))
        .orderBy("c_mktsegment", "c_nationkey")
    }, Some(
      """SELECT c_mktsegment, c_nationkey, count(*) AS n, round(sum(c_acctbal), 4) AS bal
        |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // bucketed co-located join: both fact tables written bucketBy(orderkey)
    // + sortBy, so the join needs NO exchange and NO sort on either side —
    // the shape that turns the biggest shuffle of a 100 TB star join into a
    // local merge (PlanSpec asserts the exchange-free join plan). The oracle
    // is the same join from the raw tables.
    QueryDef("q79_bucketed_join", (s, dir) => {
      val nb = 8
      // table names + paths carry the invocation tag: the metastore-visible
      // names race across concurrent invocations just like shared paths do
      val tag = RelationalSupport.scratchTag(s, dir)
      val ordersTbl = s"graft_b_orders_$tag"
      val lineitemTbl = s"graft_b_lineitem_$tag"
      s.sql(s"DROP TABLE IF EXISTS $ordersTbl")
      s.sql(s"DROP TABLE IF EXISTS $lineitemTbl")
      Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
        .write.bucketBy(nb, "o_orderkey").sortBy("o_orderkey")
        .option("path", RelationalSupport.scratchDir(s, dir, "q79_orders"))
        .mode("overwrite").saveAsTable(ordersTbl)
      Tables.load(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
        .write.bucketBy(nb, "l_orderkey").sortBy("l_orderkey")
        .option("path", RelationalSupport.scratchDir(s, dir, "q79_lineitem"))
        .mode("overwrite").saveAsTable(lineitemTbl)
      val o = s.table(ordersTbl)
      val l = s.table(lineitemTbl)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_custkey")
        .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("rev"),
          count(lit(1)).as("n"))
        .orderBy("o_custkey")
    }, Some(
      """SELECT o_custkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev, count(*) AS n
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // versioned snapshot roots: two publishes, the read resolves the
    // atomic pointer to the CURRENT version only (old versions retained
    // for pinned readers — the snapshot-isolation layer plain parquet
    // overwrites lack). The oracle recomputes version 2's content.
    QueryDef("q88_versioned_snapshot", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q88_ver")
      val c = Tables.load(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      graft.sources.reftable.VersionedTable.publish(c, root)
      graft.sources.reftable.VersionedTable.publish(
        c.filter(col("c_custkey") % 2 === 0)
          .withColumn("c_acctbal", r4(col("c_acctbal") * 2)), root)
      s.read.format("reftable")
        .option("path", root)
        .option("schema", "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE")
        .load()
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, c_name, round(c_acctbal * 2, 4) AS c_acctbal
        |FROM customer WHERE c_custkey % 2 = 0 ORDER BY c_custkey""".stripMargin)),

    // forward schema evolution through the reftable source: the table has
    // an old epoch written without o_totalprice and a new epoch with it;
    // allowMissingColumns null-fills the old files, and the aggregate
    // proves the fill (count of non-nulls, null-safe sum) matches the
    // oracle's CASE-based reconstruction.
    QueryDef("q89_schema_evolution", (s, dir) => {
      val out = RelationalSupport.scratchDir(s, dir, "q89_evolve")
      val o = Tables.load(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(out)
      o.filter(col("o_orderkey") % 2 === 1).select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("append").parquet(out)
      s.read.format("reftable")
        .option("path", out)
        .option("schema", "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE")
        .option("allowMissingColumns", "true")
        .load()
        .groupBy((col("o_orderkey") % 2).as("epoch"))
        .agg(count(lit(1)).as("n"), count(col("o_totalprice")).as("n_price"),
          r4(sum("o_totalprice")).as("tp"))
        .orderBy("epoch")
    }, Some(
      """SELECT o_orderkey % 2 AS epoch, count(*) AS n,
        |  count(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS n_price,
        |  round(sum(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END), 4) AS tp
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // metadata-only aggregation through the reftable source: COUNT/MIN/MAX
    // are answered from parquet footer statistics (one partial row per
    // file, no data pages read — RefTableSourceSpec asserts the pushed
    // plan); the oracle computes the same aggregates from the raw table.
    QueryDef("q86_agg_pushdown", (s, dir) => {
      val out = RelationalSupport.scratchDir(s, dir, "q86_aggpd")
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), to_date(col("o_orderdate")).as("od"))
        .write.mode("overwrite").parquet(out)
      s.read.format("reftable")
        .option("path", out)
        .option("schema", "o_orderkey BIGINT, o_totalprice DOUBLE, od DATE")
        .load()
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
          r4(min("o_totalprice")).as("min_tp"), r4(max("o_totalprice")).as("max_tp"),
          min("od").as("min_od"), max("od").as("max_od"))
    }, Some(
      """SELECT count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  round(min(o_totalprice), 4) AS min_tp, round(max(o_totalprice), 4) AS max_tp,
        |  CAST(min(o_orderdate) AS DATE) AS min_od, CAST(max(o_orderdate) AS DATE) AS max_od
        |FROM orders""".stripMargin)),

    // GROUPED metadata-only aggregation (round 18): GROUP BY over the
    // partition columns is served from directory values + footer
    // statistics — one partial row per file, zero data pages (the
    // "row counts per domain" census a 100 TB table answers constantly).
    // RefTableSourceSpec asserts the PushedGroupBy plan and the
    // non-partition-column fallback; the oracle recomputes from the raw
    // table.
    QueryDef("q227_grouped_agg_pushdown", (s, dir) => {
      val out = RelationalSupport.scratchDir(s, dir, "q227_gaggpd")
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
        .write.mode("overwrite").partitionBy("o_orderstatus", "o_orderpriority").parquet(out)
      s.read.format("reftable")
        .option("path", out)
        .option("schema",
          "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, " +
            "o_orderstatus STRING, o_orderpriority STRING")
        .option("partitionColumns", "o_orderstatus,o_orderpriority")
        .load()
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), count(col("o_custkey")).as("n_cust"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
          r4(min("o_totalprice")).as("min_tp"), r4(max("o_totalprice")).as("max_tp"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }, Some(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n, count(o_custkey) AS n_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  round(min(o_totalprice), 4) AS min_tp, round(max(o_totalprice), 4) AS max_tp
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // bloom-filter semi-join reduction: the fact side is pre-filtered by a
    // Bloom filter of the selective dim side's keys (codegen'd
    // might_contain at the scan, before the join shuffle) — result must be
    // IDENTICAL to the plain join, which is exactly what the oracle checks.
    QueryDef("q82_bloom_join", (s, dir) => {
      val sel = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      val fact = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_quantity")
      graft.operators.BloomJoin.prunedJoin(fact, sel, "l_orderkey", expectedItems = 100000L)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"), r4(sum("l_extendedprice")).as("rev"),
          r4(max("o_totalprice")).as("tp"))
        .orderBy("l_orderkey")
    }, Some(
      """SELECT l_orderkey, count(*) AS n, round(sum(l_extendedprice), 4) AS rev,
        |  round(max(o_totalprice), 4) AS tp
        |FROM lineitem JOIN (SELECT o_orderkey, o_totalprice FROM orders
        |                    WHERE o_totalprice > 400000) o ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // format breadth: the same relation round-tripped through CSV and JSON
    // (Spark's other batch sources) must agree with the parquet oracle.
    QueryDef("q62_format_roundtrip", (s, dir) => {
      val out = RelationalSupport.scratchDir(s, dir, "q62_fmt")
      val nation = t(s, dir, "nation")
      nation.write.mode("overwrite").option("header", "true").csv(s"$out/csv")
      nation.write.mode("overwrite").json(s"$out/json")
      val fromCsv = s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT").csv(s"$out/csv")
        .select(col("n_nationkey"), col("n_name"), lit("csv").as("src"))
      val fromJson = s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .json(s"$out/json")
        .select(col("n_nationkey"), col("n_name"), lit("json").as("src"))
      fromCsv.unionAll(fromJson).orderBy("src", "n_nationkey")
    }, Some(
      """SELECT n_nationkey, n_name, src FROM (
        |  SELECT n_nationkey, n_name, 'csv' AS src FROM nation
        |  UNION ALL SELECT n_nationkey, n_name, 'json' AS src FROM nation)
        |ORDER BY src, n_nationkey""".stripMargin)),

    // ORC round-trip: Spark's other bundled columnar format must agree
    // with the parquet-derived oracle (q62 covers CSV/JSON; spark-avro is
    // not on this classpath).
    QueryDef("q90_orc_roundtrip", (s, dir) => {
      val out = RelationalSupport.scratchDir(s, dir, "q90_orc")
      Tables.load(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), r4(sum("s_acctbal")).as("bal"), min("s_name").as("first_name"))
        .orderBy("s_nationkey")
    }, Some(
      """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 4) AS bal,
        |  min(s_name) AS first_name
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Data skipping: customer published range-clustered on c_acctbal into a
    // versioned root (which also writes the _STATS.json manifest), then read
    // back through the source under a selective range filter. The oracle
    // proves values; RefTableStatsSpec proves most files are never planned.
    // At 100 TB this is the difference between O(matching) and O(files)
    // tasks for a range query on the cluster key.
    QueryDef("q91_clustered_skip", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q91_cluster")
      graft.sources.reftable.VersionedTable.publishClustered(
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment")),
        root, Seq("c_acctbal"), numFiles = 8)
      s.read.format("reftable")
        .option("path", root)
        .option("schema", "c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING")
        .load()
        .filter(col("c_acctbal") >= 0.0 && col("c_acctbal") < 1000.0)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), r4(sum("c_acctbal")).as("bal"),
          r4(min("c_acctbal")).as("lo"), r4(max("c_acctbal")).as("hi"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 4) AS bal,
        |  round(min(c_acctbal), 4) AS lo, round(max(c_acctbal), 4) AS hi
        |FROM customer WHERE c_acctbal >= 0 AND c_acctbal < 1000
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Categorical skipping: documents published clustered by `lang`, the
    // manifest augmented with exact per-file value sets (strings can't use
    // truncatable min/max bounds), then read under a lang filter — the
    // lang='en'-style predicate every training-data pipeline runs. The
    // oracle proves values; RefTableStatsSpec proves files are skipped.
    QueryDef("q98_categorical_skip", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q98_cat")
      graft.sources.reftable.VersionedTable.publishClustered(
        t(s, dir, "documents").select("doc_id", "lang", "text"),
        root, Seq("lang"), numFiles = 4)
      val resolved = graft.sources.reftable.SnapshotFiles.resolveDir(
        root, None, graft.sources.reftable.HadoopConf())
      graft.sources.reftable.RefTableStats.augmentCategorical(s, resolved, Seq("lang"))
      s.read.format("reftable")
        .option("path", root)
        .option("schema", "doc_id BIGINT, lang STRING, text STRING")
        .load()
        .filter(col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"),
          max(length(col("text"))).as("max_len"))
        .orderBy("lang")
    }, Some(
      """SELECT lang, count(*) AS n, min(doc_id) AS first_doc,
        |  max(length(text)) AS max_len
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Bloom-filter file skipping end-to-end through the writer option: a
    // high-cardinality string key (min/max untrusted for strings, value
    // sets refuse unbounded domains) gets per-file Bloom filters at
    // publish; the point-lookup IN prunes to the one file that might hold
    // the present key and proves the absent one away. The oracle replays
    // the lookup over the raw table; the spec asserts the file counts.
    QueryDef("q120_bloom_skip", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q120_bloom")
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), concat(lit("ord_"), col("o_orderkey")).as("okey"),
          col("o_totalprice"))
        .write.format("reftable").option("path", root)
        .option("schema", "o_orderkey BIGINT, okey STRING, o_totalprice DOUBLE")
        .option("clusterBy", "o_orderkey").option("clusterFiles", "8")
        .option("bloomStats", "okey")
        .mode("overwrite").save()
      s.read.format("reftable").option("path", root)
        .option("schema", "o_orderkey BIGINT, okey STRING, o_totalprice DOUBLE").load()
        .filter(col("okey").isin("ord_7", "ord_1284", "ord_does_not_exist"))
        .agg(count(lit(1)).as("n"), r4(sum("o_totalprice")).as("total"),
          min("o_orderkey").as("lo"))
    }, Some(
      """SELECT count(*) AS n, round(sum(o_totalprice), 4) AS total,
        |  min(o_orderkey) AS lo
        |FROM orders
        |WHERE 'ord_' || CAST(o_orderkey AS VARCHAR) IN
        |  ('ord_7', 'ord_1284', 'ord_does_not_exist')""".stripMargin)),

    // String range/prefix skipping via TRUNCATED bounds (round 17): a
    // high-cardinality URL-shaped key — the commonest LLM-corpus key —
    // clustered and then filtered by range + prefix. Categorical sets
    // refuse unbounded domains and Blooms only answer points; the
    // truncate-16 enclosing bounds close exactly this gap. The oracle
    // proves values over the same derived key; RefTableStatsSpec proves
    // the file-skip counts and the never-wrongly-skips property.
    QueryDef("q214_string_range_skip", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q214_str")
      graft.sources.reftable.VersionedTable.publishClustered(
        t(s, dir, "documents").select(
          col("doc_id"),
          concat(lit("https://"), col("source"), lit(".example/"), col("lang"),
            lit("/doc-"), lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
          col("n_chars")),
        root, Seq("url"), numFiles = 8)
      s.read.format("reftable").option("path", root)
        .option("schema", "doc_id BIGINT, url STRING, n_chars BIGINT")
        .load()
        .filter((col("url") >= "https://src2" && col("url") < "https://src4") ||
          col("url").startsWith("https://src7"))
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
          min("doc_id").as("lo"), max("doc_id").as("hi"))
    }, Some(
      """WITH u AS (SELECT doc_id, n_chars,
        |  'https://' || source || '.example/' || lang || '/doc-' ||
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0') AS url
        |  FROM documents)
        |SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS lo, max(doc_id) AS hi
        |FROM u
        |WHERE (url >= 'https://src2' AND url < 'https://src4')
        |   OR url LIKE 'https://src7%'""".stripMargin)),

    // Z-order layout: orders published Morton-clustered on (o_custkey,
    // o_totalprice), read back under a box filter on BOTH dimensions. The
    // oracle proves values; RefTableStatsSpec proves a lexicographic
    // layout cannot prune the trailing dimension while z-order prunes all.
    QueryDef("q93_zorder_skip", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q93_zorder")
      graft.sources.reftable.VersionedTable.publishZOrdered(
        Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        root, Seq("o_custkey", "o_totalprice"), numFiles = 8)
      s.read.format("reftable")
        .option("path", root)
        .option("schema", "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE")
        .load()
        .filter(col("o_custkey") < 300 && col("o_totalprice") >= 50000.0 &&
          col("o_totalprice") < 150000.0)
        .agg(count(lit(1)).as("n"), r4(sum("o_totalprice")).as("total"),
          min("o_orderkey").as("first_key"), max("o_orderkey").as("last_key"))
    }, Some(
      """SELECT count(*) AS n, round(sum(o_totalprice), 4) AS total,
        |  min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
        |FROM orders
        |WHERE o_custkey < 300 AND o_totalprice >= 50000 AND o_totalprice < 150000""".stripMargin)),

    // Storage-partitioned join: two reftables Hive-partitioned on the same
    // key (orders + a per-order status table, both on bkt = o_orderkey % 8)
    // read with `groupByPartition` — the scans report KeyGroupedPartitioning
    // and Spark's v2-bucketing machinery joins them with NO Exchange on
    // either side (RefTableSpjSpec asserts the plan; this entry oracles the
    // values). At 100 TB this is joining two co-partitioned facts in place
    // instead of re-shuffling both.
    QueryDef("q154_spj_join", (s, dir) => {
      import graft.sources.reftable.VersionedTable
      val r1 = RelationalSupport.scratchDir(s, dir, "q154_a")
      val r2 = RelationalSupport.scratchDir(s, dir, "q154_b")
      val o = t(s, dir, "orders")
      VersionedTable.publishPartitioned(
        o.select((col("o_orderkey") % 8).as("bkt"), col("o_orderkey"), col("o_totalprice")),
        r1, Seq("bkt"))
      VersionedTable.publishPartitioned(
        o.filter(col("o_custkey") % 3 === 0)
          .select((col("o_orderkey") % 8).as("bkt"), col("o_orderkey"), col("o_orderpriority")),
        r2, Seq("bkt"))
      def rd(root: String, ddl: String) = s.read.format("reftable")
        .option("path", root).option("schema", ddl)
        .option("partitionColumns", "bkt").option("groupByPartition", "true").load()
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
      val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      // the join must EXECUTE while the SPJ confs are set (restoring them
      // before the caller's action would silently fall back to a shuffled
      // plan), so the few aggregate rows materialize inside the scope —
      // bounded by the priority cardinality, not data
      try {
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        val out = rd(r1, "bkt BIGINT, o_orderkey BIGINT, o_totalprice DOUBLE")
          .join(rd(r2, "bkt BIGINT, o_orderkey BIGINT, o_orderpriority STRING"),
            Seq("bkt", "o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), r4(sum("o_totalprice")).as("total"))
          .orderBy("o_orderpriority")
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }, Some(
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 4) AS total
        |FROM orders WHERE o_custkey % 3 = 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Hidden partitioning (Iceberg-style partition transforms): events
    // published under derived `ts_day=` directories while `ts` stays in
    // the files; the query filters on plain `ts` and the source prunes
    // whole day directories at LISTING time — before stats manifests or
    // footers — with the transform invisible to the query
    // (RefTableHiddenPartitionSpec asserts the exact directory set kept).
    // The oracle replays the band filter over raw events.
    QueryDef("q160_hidden_partitioning", (s, dir) => {
      import graft.sources.reftable.VersionedTable
      val root = RelationalSupport.scratchDir(s, dir, "q160_hp")
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      VersionedTable.publishHiddenPartitioned(ev, root, Seq("days(ts)"))
      s.read.format("reftable")
        .option("path", root)
        .option("schema",
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
        .option("hiddenPartitions", "days(ts)")
        .load()
        .filter(col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
          col("ts") < to_timestamp(lit("2024-01-18 00:00:00")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_value"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-18 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // GROUPED pushdown over the HIDDEN day transform (round 19): the daily
    // census — GROUP BY to_date(ts) on a days(ts)-partitioned table — is
    // served from directory values + footer statistics, zero data pages:
    // every row of a day directory casts to the directory's own date, so
    // each file contributes ONE partial row. This is the round-18 gap (the
    // q227 machinery fell back for transform keys) and the commonest ops
    // query on a 100 TB time-partitioned table. The entry REQUIRES the
    // pushed plan (it throws on fallback — a silently-regular scan would
    // still produce the right rows); the timezone guard and value fallback
    // are spec-asserted.
    QueryDef("q234_day_census_pushdown", (s, dir) => {
      import graft.sources.reftable.VersionedTable
      val root = RelationalSupport.scratchDir(s, dir, "q234_daycensus")
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      VersionedTable.publishHiddenPartitioned(ev, root, Seq("days(ts)"))
      val census = s.read.format("reftable")
        .option("path", root)
        .option("schema", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE")
        .option("hiddenPartitions", "days(ts)")
        .load()
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), count(col("user_id")).as("n_user"),
          min("event_id").as("min_id"), max("event_id").as("max_id"),
          r4(min("value")).as("min_v"), r4(max("value")).as("max_v"))
        .orderBy("day")
      val plan = census.queryExecution.executedPlan.toString()
      require(plan.contains("PushedGroupBy: [CAST(ts AS DATE)]"),
        s"q234 requires the transform-served grouped footer scan; got:\n$plan")
      census
    }, Some(
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n, count(user_id) AS n_user,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  round(min(value), 4) AS min_v, round(max(value), 4) AS max_v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
