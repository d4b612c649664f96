package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.GraftFunctions._
import graft.functions.HashFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SQL catalog surface: DDL/DML through the DSv2 TableCatalog,
  * schema evolution, metadata tables, table history, partitioned SQL
  * DML, and manifest-chain endurance. */
object TableCatalogSql {
  import RelationalSupport.t

  val defs: Seq[QueryDef] = Seq(
    // The SQL-catalog surface end-to-end: CREATE TABLE in the DSv2
    // TableCatalog, INSERT from a real table, DELETE FROM routed through
    // the copy-on-write mutation, aggregate read back via SQL. The oracle
    // replays insert + delete logically. Catalog name is unique per
    // (invocation, sf) — catalog plugin instances are cached per session.
    QueryDef("q109_sql_catalog", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q109_cat")
      val cat = "graftcat_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.nat")
      s.sql(s"CREATE TABLE $cat.db.nat " +
        "(n_nationkey INT, n_name STRING, n_regionkey INT) USING reftable")
      Tables.registerAll(s, dir)
      s.sql(s"INSERT INTO $cat.db.nat " +
        "SELECT n_nationkey, n_name, n_regionkey FROM nation")
      s.sql(s"DELETE FROM $cat.db.nat WHERE n_regionkey = 2")
      s.sql(s"SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name " +
        s"FROM $cat.db.nat GROUP BY n_regionkey ORDER BY n_regionkey")
    }, Some(
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        |FROM nation WHERE n_regionkey <> 2
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Schema evolution through SQL DDL: ADD COLUMN evolves the catalog
    // descriptor (old files null-fill via allowMissingColumns), the next
    // INSERT carries the new column, and one SELECT reads both
    // generations. The oracle replays the column's late arrival as a CASE.
    QueryDef("q118_sql_evolution", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q118_cat")
      val cat = "graftevo_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.ev")
      s.sql(s"CREATE TABLE $cat.db.ev (n_nationkey INT, n_name STRING) USING reftable")
      Tables.registerAll(s, dir)
      s.sql(s"INSERT INTO $cat.db.ev " +
        "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 2")
      s.sql(s"ALTER TABLE $cat.db.ev ADD COLUMN region INT")
      s.sql(s"INSERT INTO $cat.db.ev " +
        "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey >= 2")
      s.sql(s"SELECT coalesce(region, -1) AS region, count(*) AS n, " +
        s"min(n_name) AS first_name FROM $cat.db.ev GROUP BY 1 ORDER BY 1")
    }, Some(
      """SELECT coalesce(CASE WHEN n_regionkey >= 2 THEN n_regionkey END, -1) AS region,
        |  count(*) AS n, min(n_name) AS first_name
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SQL metadata tables (Iceberg-style $commits / $history): the commit
    // log and version history join through plain SQL, rows counted from
    // the stats manifests — zero data pages, driver-local scan. The oracle
    // replays the two INSERTs' lineage and row counts from `nation`.
    QueryDef("q119_sql_metadata", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q119_cat")
      val cat = "graftmeta_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.m")
      s.sql(s"CREATE TABLE $cat.db.m (n_nationkey INT, n_name STRING) USING reftable")
      Tables.registerAll(s, dir)
      s.sql(s"INSERT INTO $cat.db.m SELECT n_nationkey, n_name FROM nation")
      s.sql(s"INSERT INTO $cat.db.m " +
        "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0")
      s.sql(
        s"""SELECT c.seq, c.parent IS NULL AS is_root, h.n_rows, h.is_current
           |FROM $cat.db.`m$$commits` c
           |JOIN $cat.db.`m$$history` h ON h.version = c.version
           |ORDER BY c.seq""".stripMargin)
    }, Some(
      """SELECT CAST(1 AS BIGINT) AS seq, TRUE AS is_root,
        |  (SELECT count(*) FROM nation) AS n_rows, FALSE AS is_current
        |UNION ALL
        |SELECT 2, FALSE,
        |  (SELECT count(*) FROM nation) +
        |    (SELECT count(*) FROM nation WHERE n_regionkey = 0), TRUE
        |ORDER BY seq""".stripMargin)),

    // SQL UPDATE end-to-end: the analyzer rewrite (RefTableDmlRewrite)
    // turns the resolved UpdateTable plan into the file-granular COW
    // update. RHS expressions see the OLD row, per SQL; the oracle replays
    // the SET as a CASE.
    QueryDef("q116_sql_update", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q116_upd")
      val tbl = "graft_q116_" + RelationalSupport.scratchTag(s, dir)
      Tables.registerAll(s, dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
        "schema 'c_custkey BIGINT, c_nationkey INT, cents BIGINT')")
      s.sql(s"INSERT OVERWRITE $tbl SELECT c_custkey, c_nationkey, " +
        "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) FROM customer")
      s.sql(s"UPDATE $tbl SET cents = cents + 100 WHERE c_custkey % 10 = 3")
      s.sql(s"SELECT c_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents " +
        s"FROM $tbl GROUP BY c_nationkey ORDER BY c_nationkey")
    }, Some(
      """WITH base AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM customer)
        |SELECT c_nationkey, count(*) AS cnt,
        |  CAST(sum(CASE WHEN c_custkey % 10 = 3 THEN cents + 100 ELSE cents END) AS BIGINT)
        |    AS sum_cents
        |FROM base GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // SQL MERGE INTO end-to-end: three clauses with conditions, a subquery
    // source with fresh keys, through the same analyzer rewrite into
    // mergeClauses. The oracle replays the clause logic as set operations.
    QueryDef("q117_sql_merge", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q117_mrg")
      val tbl = "graft_q117_" + RelationalSupport.scratchTag(s, dir)
      Tables.registerAll(s, dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
        "schema 's_suppkey BIGINT, s_nationkey INT, cents BIGINT')")
      s.sql(s"INSERT OVERWRITE $tbl SELECT s_suppkey, s_nationkey, " +
        "CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) FROM supplier")
      s.sql(
        s"""MERGE INTO $tbl t USING (
           |  SELECT s_suppkey AS k, s_nationkey AS nk,
           |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
           |  FROM supplier
           |  UNION ALL
           |  SELECT -s_suppkey - 1000, s_nationkey, CAST(777 AS BIGINT)
           |  FROM supplier WHERE s_suppkey % 20 = 0
           |) s ON t.s_suppkey = s.k
           |WHEN MATCHED AND s.k % 7 = 0 THEN DELETE
           |WHEN MATCHED AND s.k % 7 <> 0 AND s.k <= 50 THEN UPDATE SET cents = s.c + 5
           |WHEN NOT MATCHED THEN INSERT (s_suppkey, s_nationkey, cents)
           |  VALUES (s.k, s.nk, s.c)""".stripMargin)
      s.sql(s"SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents, " +
        s"min(s_suppkey) AS lo FROM $tbl GROUP BY s_nationkey ORDER BY s_nationkey")
    }, Some(
      """WITH base AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM supplier),
        |merged AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CASE WHEN s_suppkey % 7 <> 0 AND s_suppkey <= 50 THEN cents + 5
        |      ELSE cents END AS cents
        |  FROM base WHERE s_suppkey % 7 <> 0
        |  UNION ALL
        |  SELECT -s_suppkey - 1000, s_nationkey, 777 FROM base WHERE s_suppkey % 20 = 0)
        |SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(s_suppkey) AS lo
        |FROM merged GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // EXPECTATIONS ON THE MUTATION PATH — the q179 declared quality gates
    // enforced by MERGE (merge-on-read here), not just INSERT and the
    // sinks: a WHEN MATCHED update whose after-image violates is SKIPPED
    // (the old image survives — a failed gate must never delete a row),
    // a violating WHEN NOT MATCHED insert never lands, passing rows apply
    // normally. The oracle replays the drop semantics row by row.
    QueryDef("q184_merge_expectations", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q184_gate")
      val tbl = "graft_q184_" + RelationalSupport.scratchTag(s, dir)
      Tables.registerAll(s, dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
        "schema 's_suppkey BIGINT, s_nationkey INT, cents BIGINT', " +
        "expect.non_negative 'cents >= 0', onViolation 'drop', " +
        "mergeMode 'mergeOnRead')")
      s.sql(s"INSERT OVERWRITE $tbl SELECT s_suppkey, s_nationkey, " +
        "CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) FROM supplier")
      s.sql(
        s"""MERGE INTO $tbl t USING (
           |  SELECT s_suppkey AS k, s_nationkey AS nk,
           |    CASE WHEN s_suppkey % 3 = 0 THEN CAST(-1 AS BIGINT)
           |      ELSE CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) + 7
           |    END AS c
           |  FROM supplier
           |  UNION ALL
           |  SELECT s_suppkey + 100000, s_nationkey,
           |    CASE WHEN s_suppkey % 5 = 0 THEN CAST(-5 AS BIGINT)
           |      ELSE CAST(123 AS BIGINT) END
           |  FROM supplier
           |) s ON t.s_suppkey = s.k
           |WHEN MATCHED THEN UPDATE SET cents = s.c
           |WHEN NOT MATCHED THEN INSERT (s_suppkey, s_nationkey, cents)
           |  VALUES (s.k, s.nk, s.c)""".stripMargin)
      s.sql(s"SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents, " +
        s"max(s_suppkey) AS hi FROM $tbl GROUP BY s_nationkey ORDER BY s_nationkey")
    }, Some(
      """WITH base AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM supplier),
        |final AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CASE WHEN s_suppkey % 3 = 0 THEN cents ELSE cents + 7 END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT s_suppkey + 100000, s_nationkey, 123 FROM base WHERE s_suppkey % 5 <> 0)
        |SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  max(s_suppkey) AS hi
        |FROM final GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // BATCH SQL CHANGEFEED — table_changes('t', from[, to]), the
    // Delta-CDF shape: the key-level change set between two retained
    // versions as one lazy relation over the O(changed files) file delta
    // (never a scan of carried files), composable with GROUP BY like any
    // table. from/to accept version names, tag:<name>, ts:<timestamp>;
    // the oracle replays the three mutations' endpoint diff.
    QueryDef("q185_sql_table_changes", (s, dir) => {
      import graft.sources.reftable.VersionedTable
      val root = RelationalSupport.scratchDir(s, dir, "q185_tc")
      val tbl = "graft_q185_" + RelationalSupport.scratchTag(s, dir)
      Tables.registerAll(s, dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
        "schema 's_suppkey BIGINT, s_nationkey INT, cents BIGINT', " +
        "keyColumns 's_suppkey')")
      s.sql(s"INSERT OVERWRITE $tbl SELECT s_suppkey, s_nationkey, " +
        "CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) FROM supplier")
      VersionedTable.tag(root, "q185base", replace = true)
      s.sql(s"UPDATE $tbl SET cents = cents + 11 WHERE s_suppkey % 7 = 0")
      s.sql(s"DELETE FROM $tbl WHERE s_suppkey <= 5")
      s.sql(s"INSERT INTO $tbl SELECT s_suppkey + 50000, s_nationkey, " +
        "CAST(555 AS BIGINT) FROM supplier")
      s.sql(
        s"""SELECT change_type, count(*) AS n,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents,
           |  CAST(sum(s_suppkey) AS BIGINT) AS key_sum
           |FROM table_changes('$tbl', 'tag:q185base')
           |GROUP BY change_type ORDER BY change_type""".stripMargin)
    }, Some(
      """WITH base AS (
        |  SELECT s_suppkey,
        |    CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM supplier),
        |log AS (
        |  SELECT 'delete' AS change_type, s_suppkey, cents
        |  FROM base WHERE s_suppkey <= 5
        |  UNION ALL
        |  SELECT 'update', s_suppkey, cents + 11
        |  FROM base WHERE s_suppkey % 7 = 0 AND s_suppkey > 5
        |  UNION ALL
        |  SELECT 'insert', s_suppkey + 50000, CAST(555 AS BIGINT) FROM base)
        |SELECT change_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(s_suppkey) AS BIGINT) AS key_sum
        |FROM log GROUP BY change_type ORDER BY change_type""".stripMargin)),

    // FULL-SYNC MERGE — WHEN NOT MATCHED BY SOURCE (SQL:2023 / the Delta
    // snapshot-replication shape): the source IS the desired state, so
    // target rows absent from it are updated or deleted by TARGET-side
    // conditions, alongside the usual matched-update and insert clauses.
    // All five clause kinds in one statement through the analyzer rewrite
    // into mergeClauses; the oracle replays each disjoint key class.
    QueryDef("q187_merge_full_sync", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q187_fsync")
      val tbl = "graft_q187_" + RelationalSupport.scratchTag(s, dir)
      Tables.registerAll(s, dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
        "schema 's_suppkey BIGINT, s_nationkey INT, cents BIGINT')")
      s.sql(s"INSERT OVERWRITE $tbl SELECT s_suppkey, s_nationkey, " +
        "CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) FROM supplier")
      s.sql(
        s"""MERGE INTO $tbl t USING (
           |  SELECT s_suppkey AS k, s_nationkey AS nk,
           |    CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) + 7 AS c
           |  FROM supplier WHERE s_suppkey % 3 <> 0
           |  UNION ALL
           |  SELECT s_suppkey + 50000, s_nationkey, CAST(321 AS BIGINT)
           |  FROM supplier WHERE s_suppkey % 10 = 0
           |) s ON t.s_suppkey = s.k
           |WHEN MATCHED AND s.k % 2 = 0 THEN UPDATE SET cents = s.c
           |WHEN NOT MATCHED THEN INSERT (s_suppkey, s_nationkey, cents)
           |  VALUES (s.k, s.nk, s.c)
           |WHEN NOT MATCHED BY SOURCE AND t.s_suppkey % 5 = 0
           |  THEN UPDATE SET cents = -111
           |WHEN NOT MATCHED BY SOURCE AND t.s_suppkey % 5 <> 0 THEN DELETE""".stripMargin)
      s.sql(s"SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents, " +
        s"CAST(sum(s_suppkey) AS BIGINT) AS key_sum FROM $tbl " +
        "GROUP BY s_nationkey ORDER BY s_nationkey")
    }, Some(
      """WITH base AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM supplier),
        |final AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CASE WHEN s_suppkey % 2 = 0 THEN cents + 7 ELSE cents END AS cents
        |  FROM base WHERE s_suppkey % 3 <> 0
        |  UNION ALL
        |  SELECT s_suppkey, s_nationkey, CAST(-111 AS BIGINT)
        |  FROM base WHERE s_suppkey % 15 = 0
        |  UNION ALL
        |  SELECT s_suppkey + 50000, s_nationkey, CAST(321 AS BIGINT)
        |  FROM base WHERE s_suppkey % 10 = 0)
        |SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(s_suppkey) AS BIGINT) AS key_sum
        |FROM final GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // `t$partitions` metadata table (the Iceberg partitions-table shape):
    // per-partition file/byte/row census of the current version from
    // listings + stats manifests — zero data pages, planned as a driver
    // LocalScan. Partition values surface as the directory strings; the
    // oracle recomputes per-partition row counts from the source table.
    QueryDef("q188_partitions_meta", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q188_cat")
      val cat = "graftparts_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.p")
      s.sql(s"CREATE TABLE $cat.db.p " +
        "(n_nationkey INT, n_name STRING, n_regionkey INT) USING reftable " +
        "OPTIONS (partitionColumns 'n_regionkey')")
      Tables.registerAll(s, dir)
      s.sql(s"INSERT OVERWRITE $cat.db.p " +
        "SELECT n_nationkey, n_name, n_regionkey FROM nation")
      s.sql(s"SELECT n_regionkey, n_rows FROM $cat.db.`p$$partitions` " +
        "ORDER BY n_regionkey")
    }, Some(
      """SELECT CAST(n_regionkey AS VARCHAR) AS n_regionkey, count(*) AS n_rows
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    // MERGE WITH SCHEMA EVOLUTION (Delta automatic-schema-evolution
    // parity): the table declares AUTOMATIC_SCHEMA_EVOLUTION, so Spark's
    // own ResolveMergeIntoSchemaEvolution ALTERs the catalog table with
    // the source-only columns (riding the q118 ADD COLUMN path) and
    // re-resolves; UPDATE SET * / INSERT * then assign the new column,
    // old rows null-fill. The oracle replays the evolved end state.
    QueryDef("q189_merge_schema_evolution", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q189_cat")
      val cat = "graftevo_q189_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.ev")
      s.sql(s"CREATE TABLE $cat.db.ev (s_suppkey BIGINT, cents BIGINT) USING reftable")
      Tables.registerAll(s, dir)
      s.sql(s"INSERT OVERWRITE $cat.db.ev SELECT s_suppkey, " +
        "CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) FROM supplier")
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.db.ev t USING (
           |  SELECT s_suppkey,
           |    CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) + 7 AS cents,
           |    s_nationkey
           |  FROM supplier WHERE s_suppkey % 2 = 0
           |  UNION ALL
           |  SELECT s_suppkey + 50000, CAST(321 AS BIGINT), s_nationkey
           |  FROM supplier WHERE s_suppkey % 10 = 0
           |) s ON t.s_suppkey = s.s_suppkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(s"SELECT coalesce(s_nationkey, -1) AS nk, count(*) AS cnt, " +
        s"CAST(sum(cents) AS BIGINT) AS sum_cents FROM $cat.db.ev " +
        "GROUP BY 1 ORDER BY 1")
    }, Some(
      """WITH base AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM supplier),
        |final AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_suppkey % 2 = 0 THEN cents + 7 ELSE cents END AS cents,
        |    CASE WHEN s_suppkey % 2 = 0 THEN s_nationkey END AS nk
        |  FROM base
        |  UNION ALL
        |  SELECT s_suppkey + 50000, CAST(321 AS BIGINT), s_nationkey
        |  FROM base WHERE s_suppkey % 10 = 0)
        |SELECT coalesce(nk, -1) AS nk, count(*) AS cnt,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ATOMIC CTAS + RTAS (StagingTableCatalog): CREATE ... AS SELECT and
    // CREATE OR REPLACE ... AS SELECT stage the SELECT into an ignored
    // dir inside the root and adopt it as a full version under the CAS —
    // no drop-then-create window, the replace is one more commit on the
    // same root (the pre-replace version stays time-travelable). The
    // oracle replays the replacing SELECT.
    QueryDef("q190_atomic_rtas", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q190_cat")
      val cat = "graftrtas_q190_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.r")
      Tables.registerAll(s, dir)
      s.sql(s"CREATE TABLE $cat.db.r USING reftable AS " +
        "SELECT s_suppkey, s_nationkey, " +
        "CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents " +
        "FROM supplier")
      s.sql(s"CREATE OR REPLACE TABLE $cat.db.r USING reftable AS " +
        "SELECT s_suppkey, s_nationkey, " +
        "CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) + 5 AS cents " +
        "FROM supplier WHERE s_suppkey % 2 = 0")
      s.sql(s"SELECT s_nationkey, count(*) AS cnt, " +
        s"CAST(sum(cents) AS BIGINT) AS sum_cents FROM $cat.db.r " +
        "GROUP BY s_nationkey ORDER BY s_nationkey")
    }, Some(
      """SELECT s_nationkey, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(abs(s_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) + 5)
        |    AS BIGINT) AS sum_cents
        |FROM supplier WHERE s_suppkey % 2 = 0
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // DELETE with an uncorrelated IN-subquery condition: refused by
    // Spark's SupportsDelete path, routed by the analyzer rewrite into
    // the COW mutation where the subquery evaluates over the pinned
    // read (its subquery-free conjuncts still narrow by stats). The
    // oracle replays the anti-join.
    QueryDef("q191_delete_subquery", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q191_dsub")
      val tbl = "graft_q191_" + RelationalSupport.scratchTag(s, dir)
      Tables.registerAll(s, dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
        "schema 'o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT')")
      s.sql(s"INSERT OVERWRITE $tbl SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) FROM orders")
      s.sql(s"DELETE FROM $tbl WHERE o_custkey IN " +
        "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        s"CAST(sum(cents) AS BIGINT) AS sum_cents FROM $tbl " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // IDEMPOTENT LANDING-ZONE INGESTION (COPY INTO / Auto-Loader batch
    // shape): two waves of files land; each CALL system.ingest loads
    // exactly the not-yet-loaded files through the table's write gates
    // (log-first crash-safe protocol, RefTableIngest). The second CALL
    // skips wave 1 entirely; the oracle is the full source — exactly-once
    // ingestion means landing everything exactly once.
    QueryDef("q192_copy_into", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q192_cat")
      val cat = "graftcopy_q192_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.o")
      Tables.registerAll(s, dir)
      // deterministic under bench re-runs: fresh landing zone + table
      val landing = s"$wh/landing"
      val fs = new org.apache.hadoop.fs.Path(landing)
        .getFileSystem(graft.sources.reftable.HadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(landing), true)
      s.sql(s"CREATE TABLE $cat.db.o " +
        "(o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT) USING reftable")
      def wave(pred: String): Unit =
        s.sql(s"SELECT o_orderkey, o_orderstatus, " +
          s"CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents " +
          s"FROM orders WHERE $pred")
          .coalesce(2).write.mode("append").parquet(landing)
      wave("o_orderkey % 2 = 0")
      s.sql(s"CALL $cat.system.ingest(table => 'db.o', source => '$landing')")
      wave("o_orderkey % 2 = 1")
      s.sql(s"CALL $cat.system.ingest(table => 'db.o', source => '$landing')")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        s"CAST(sum(cents) AS BIGINT) AS sum_cents FROM $cat.db.o " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // STREAMING LANDING-ZONE INGEST (the Auto-Loader shape): a streaming
    // query discovers and lands new files per trigger under the SAME
    // log-first exactly-once protocol as the batch CALL — waves landing
    // while the stream runs load exactly once, admission-capped, and the
    // oracle is the full source (identical to q192's batch COPY INTO:
    // stream ≡ batch over the same files).
    QueryDef("q198_stream_ingest", (s, dir) => {
      import graft.sources.reftable.{RefTableIngest, RefTableOptions, VersionedTable}
      import org.apache.spark.sql.util.CaseInsensitiveStringMap
      import scala.jdk.CollectionConverters._
      val base = RelationalSupport.scratchDir(s, dir, "q198_ing")
      val conf = graft.sources.reftable.HadoopConf()
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(base), true) // fresh zone + table
      val root = s"$base/t"
      val landing = s"$base/landing"
      val ddl = "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT"
      val opts = RefTableOptions.from(new CaseInsensitiveStringMap(
        Map("path" -> root, "schema" -> ddl).asJava))
      Tables.registerAll(s, dir)
      def wave(pred: String): Unit =
        s.sql(s"SELECT o_orderkey, o_orderstatus, " +
          s"CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents " +
          s"FROM orders WHERE $pred")
          .coalesce(2).write.mode("append").parquet(landing)
      // METADATA row-count poll (RelationalSupport.appendOnlyRowCount):
      // plain-append ingest table, so the poll is cached footer reads
      // instead of a Spark count job per poll — see q208
      def tcount(): Long =
        RelationalSupport.appendOnlyRowCount(root, conf) {
          s.read.format("reftable").option("path", root)
            .option("schema", ddl).load().count()
        }
      def await(target: Long): Unit = {
        // trigger-wait time is StreamingQuery lifecycle, not operator cost
        // — report it as drain so the bench's wall/drain split attributes it
        val t0 = System.nanoTime()
        val end = System.currentTimeMillis() + 60000L
        while (tcount() != target && System.currentTimeMillis() < end) Thread.sleep(25)
        graft.BenchProbe.addDrain(System.nanoTime() - t0)
        require(tcount() == target, s"stream ingest stalled: ${tcount()} of $target")
      }
      val total = s.sql("SELECT count(*) FROM orders").head().getLong(0)
      val even = s.sql("SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0")
        .head().getLong(0)
      wave("o_orderkey % 2 = 0")
      // 100 ms trigger: pure scheduling cadence (idempotence lives in the
      // log protocol), and a no-new-files trigger is one cached-log
      // pointer read since the round-20 log snapshot cache — the capped
      // one-file-per-trigger admission advances 2.5× faster for ~nothing
      val q = RefTableIngest.ingestStream(s, opts, landing,
        triggerMs = 100L, maxFilesPerTrigger = Some(1))
      try {
        await(even)
        wave("o_orderkey % 2 = 1") // lands while the stream runs
        await(total)
      } finally q.stop()
      s.read.format("reftable").option("path", root).option("schema", ddl).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("cents").cast("bigint").as("sum_cents"))
        .orderBy("o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // WRITABLE BRANCHES (the Iceberg branch shape on the commit-log
    // machinery): main holds the even orderkeys; a zero-copy branch takes
    // an append of the odd keys and a COW delete, all invisible to main;
    // fast-forward publishes the branch head back CAS-guarded on the fork.
    // The oracle is the LINEAR history: the same writes applied in order
    // with no branch at all — branch+ff must be observationally identical.
    QueryDef("q199_branch_ff", (s, dir) => {
      import graft.sources.reftable.{RefTableMutations, VersionedTable}
      val base = RelationalSupport.scratchDir(s, dir, "q199_br")
      val conf = graft.sources.reftable.HadoopConf()
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val root = s"$base/t"
      val ddl = "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT"
      Tables.registerAll(s, dir)
      def feed(pred: String) =
        s.sql(s"SELECT o_orderkey, o_orderstatus, " +
          s"CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents " +
          s"FROM orders WHERE $pred")
      VersionedTable.publish(feed("o_orderkey % 2 = 0"), root)
      VersionedTable.createBranch(root, "dev")
      feed("o_orderkey % 2 = 1").write.format("reftable")
        .option("path", root).option("schema", ddl).option("branch", "dev")
        .mode("append").save()
      RefTableMutations.deleteWhere(s, VersionedTable.branchRoot(root, "dev"),
        col("o_orderkey") % 10 === 0)
      VersionedTable.fastForward(root, "dev")
      s.read.format("reftable").option("path", root).option("schema", ddl).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("cents").cast("bigint").as("sum_cents"))
        .orderBy("o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderkey % 10 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // BRANCH REBASE (round 16): main MOVES after the fork (an append), so
    // fast-forward refuses — rebase replays the branch's file delta (a COW
    // delete on even keys' files + an appended odd-key feed) onto main's
    // new head, zero-copy, and re-syncs the branch. The oracle replays the
    // same history sequentially: base ∪ main-append ∪ branch-append minus
    // the branch's delete. The entry asserts fast-forward's refusal, so a
    // rebase silently degrading to clobber-promote fails the gate.
    QueryDef("q204_branch_rebase", (s, dir) => {
      import graft.sources.reftable.{RefTableMutations, VersionedTable}
      val base = RelationalSupport.scratchDir(s, dir, "q204_rb")
      val conf = graft.sources.reftable.HadoopConf()
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val root = s"$base/t"
      val ddl = "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT"
      Tables.registerAll(s, dir)
      def feed(pred: String) =
        s.sql(s"SELECT o_orderkey, o_orderstatus, " +
          s"CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents " +
          s"FROM orders WHERE $pred")
      VersionedTable.publish(feed("o_orderkey % 4 = 0"), root)
      VersionedTable.createBranch(root, "dev")
      // branch delta: delete keys ending in 0 + append the %4=1 feed
      RefTableMutations.deleteWhere(s, VersionedTable.branchRoot(root, "dev"),
        col("o_orderkey") % 10 === 0)
      feed("o_orderkey % 4 = 1").write.format("reftable")
        .option("path", root).option("schema", ddl).option("branch", "dev")
        .mode("append").save()
      // main moves: a concurrent append of the %4=2 feed
      feed("o_orderkey % 4 = 2").write.format("reftable")
        .option("path", root).option("schema", ddl).mode("append").save()
      try {
        VersionedTable.fastForward(root, "dev")
        throw new IllegalStateException(
          "q204: fast-forward must refuse after main moved")
      } catch { case _: VersionedTable.CommitConflictException => () }
      VersionedTable.rebaseBranch(root, "dev")
      s.read.format("reftable").option("path", root).option("schema", ddl).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("cents").cast("bigint").as("sum_cents"))
        .orderBy("o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE (o_orderkey % 4 IN (1, 2) OR (o_orderkey % 4 = 0 AND o_orderkey % 10 <> 0))
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // COLUMN NDV STATISTICS → CBO (round 15): the table declares
    // `ndvStats` so every INSERT lands per-file mergeable HLL sketches in
    // the stats manifest; the read side unions the surviving files'
    // sketches into DSv2 column statistics (RefTableNdvSpec pins the
    // plan-time broadcast they enable). The oracle replays the same
    // filtered join in DuckDB — correctness is stats-independent by
    // construction, which is exactly what the entry proves.
    QueryDef("q200_ndv_cbo_join", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q200_cat")
      val cat = "graftndv_q200_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.o")
      Tables.registerAll(s, dir)
      s.sql(s"CREATE TABLE $cat.db.o " +
        "(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT) " +
        "USING reftable OPTIONS (ndvStats 'o_custkey,o_orderstatus')")
      s.sql(s"INSERT INTO $cat.db.o SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) FROM orders")
      s.sql(
        s"""SELECT c.c_mktsegment, count(*) AS cnt,
           |  CAST(sum(o.cents) AS BIGINT) AS sum_cents
           |FROM $cat.db.o o JOIN customer c ON o.o_custkey = c.c_custkey
           |WHERE o.o_orderstatus = 'F'
           |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
    }, Some(
      """SELECT c.c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderstatus = 'F'
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)),

    // KLL HISTOGRAMS → CBO RANGE SELECTIVITY (round 16): numeric ndvStats
    // columns also land per-file KLL quantile sketches; the scan unions
    // the surviving files' sketches into an equi-height histogram (plus
    // exact value bounds) through DSv2 column statistics, so a RANGE
    // filter's selectivity estimates from real value mass instead of
    // min/max uniformity (RefTableNdvSpec pins the broadcast flip this
    // enables). The oracle replays the same range-filtered join in DuckDB
    // — correctness is stats-independent by construction.
    QueryDef("q207_histogram_cbo_join", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q207_cat")
      val cat = "grafthist_q207_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.o")
      Tables.registerAll(s, dir)
      s.sql(s"CREATE TABLE $cat.db.o " +
        "(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT) " +
        "USING reftable OPTIONS (ndvStats 'cents')")
      s.sql(s"INSERT INTO $cat.db.o SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) FROM orders")
      s.sql(
        s"""SELECT c.c_mktsegment, count(*) AS cnt,
           |  CAST(sum(o.cents) AS BIGINT) AS sum_cents
           |FROM $cat.db.o o JOIN customer c ON o.o_custkey = c.c_custkey
           |WHERE o.cents BETWEEN 5000000 AND 10000000
           |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
    }, Some(
      """SELECT c.c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
        |  BETWEEN 5000000 AND 10000000
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)),

    // PARTITION EVOLUTION (the Iceberg flagship, metadata-only): the table
    // starts partitioned by o_orderstatus, is ALTERed to partition by the
    // priority digit, and both eras keep serving every column — old files
    // from their own directory values, new files from data pages; filters
    // and a cross-era DELETE stay exact with zero rewrites at ALTER time.
    QueryDef("q193_partition_evolution", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q193_cat")
      val cat = "graftpevo_q193_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.o")
      Tables.registerAll(s, dir)
      s.sql(s"CREATE TABLE $cat.db.o " +
        "(o_orderkey BIGINT, o_orderstatus STRING, prio STRING, cents BIGINT) " +
        "USING reftable OPTIONS (partitionColumns 'o_orderstatus')")
      def feed(pred: String): String =
        s"SELECT o_orderkey, o_orderstatus, substring(o_orderpriority, 1, 1) AS prio, " +
          s"CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents " +
          s"FROM orders WHERE $pred"
      s.sql(s"INSERT INTO $cat.db.o ${feed("o_orderkey % 2 = 0")}")
      s.sql(s"ALTER TABLE $cat.db.o SET TBLPROPERTIES('option.partitionColumns'='prio')")
      s.sql(s"INSERT INTO $cat.db.o ${feed("o_orderkey % 2 = 1")}")
      // cross-era mutation: hits old (status-partitioned) and new files
      s.sql(s"DELETE FROM $cat.db.o WHERE prio = '1' AND o_orderkey % 4 = 0")
      s.sql(s"SELECT o_orderstatus, prio, count(*) AS cnt, " +
        s"CAST(sum(cents) AS BIGINT) AS sum_cents FROM $cat.db.o " +
        "GROUP BY o_orderstatus, prio ORDER BY o_orderstatus, prio")
    }, Some(
      """SELECT o_orderstatus, substring(o_orderpriority, 1, 1) AS prio,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE NOT (substring(o_orderpriority, 1, 1) = '1' AND o_orderkey % 4 = 0)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // DEFAULT column values (ANSI / Delta parity): declared at CREATE,
    // filled by INSERTs that omit the column or write the DEFAULT keyword
    // (Spark materializes the literal at WRITE time — rows land complete,
    // so every read path is ordinary); ALTER COLUMN SET DEFAULT re-points
    // future INSERTs. The oracle replays the fills as literals.
    QueryDef("q194_column_defaults", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q194_cat")
      val cat = "graftdef_q194_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.o")
      Tables.registerAll(s, dir)
      s.sql(s"CREATE TABLE $cat.db.o " +
        "(o_orderkey BIGINT, o_orderstatus STRING, src STRING DEFAULT 'feed', " +
        "score BIGINT DEFAULT 100) USING reftable")
      // wave 1 omits the defaulted columns entirely
      s.sql(s"INSERT INTO $cat.db.o (o_orderkey, o_orderstatus) " +
        "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0")
      // re-point the default for the second wave
      s.sql(s"ALTER TABLE $cat.db.o ALTER COLUMN src SET DEFAULT 'backfill'")
      s.sql(s"INSERT INTO $cat.db.o SELECT o_orderkey, o_orderstatus, DEFAULT, " +
        "o_orderkey % 7 FROM orders WHERE o_orderkey % 2 = 1")
      s.sql(s"SELECT src, o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(score) AS BIGINT) AS sum_score " +
        s"FROM $cat.db.o GROUP BY src, o_orderstatus ORDER BY src, o_orderstatus")
    }, Some(
      """SELECT src, o_orderstatus, count(*) AS cnt,
        |  CAST(sum(score) AS BIGINT) AS sum_score
        |FROM (
        |  SELECT o_orderstatus, 'feed' AS src, 100 AS score
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderstatus, 'backfill' AS src, o_orderkey % 7 AS score
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |GROUP BY src, o_orderstatus ORDER BY src, o_orderstatus""".stripMargin)),

    // TIME-based retention (`retainFor`, the reference's duration
    // grammar): keepVersions=2 alone would prune the first commit after
    // three inserts; the declared 1h window keeps it, so time travel to
    // the wave-1 version still answers — the oracle replays wave 1.
    QueryDef("q195_time_retention", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q195_cat")
      val cat = "graftret_q195_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.o")
      Tables.registerAll(s, dir)
      s.sql(s"CREATE TABLE $cat.db.o (o_orderkey BIGINT, o_orderstatus STRING, " +
        "cents BIGINT) USING reftable OPTIONS (retainFor '1h', keepVersions '2')")
      def wave(m: Int): Unit =
        s.sql(s"INSERT INTO $cat.db.o SELECT o_orderkey, o_orderstatus, " +
          "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) " +
          s"FROM orders WHERE o_orderkey % 3 = $m")
      wave(0)
      val v1 = graft.sources.reftable.VersionedTable
        .commitLog(s"$wh/db/o").head.version
      wave(1); wave(2)
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        s"CAST(sum(cents) AS BIGINT) AS sum_cents " +
        s"FROM $cat.db.o VERSION AS OF '$v1' " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ANSI CHECK constraints over the expectations machinery: the
    // CONSTRAINT declaration persists as `expect.ck_open`, the declared
    // onViolation=drop routes violating rows out at the gate (never
    // landing), and the oracle replays the filter.
    QueryDef("q196_check_constraint", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q196_cat")
      val cat = "graftck_q196_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.o")
      Tables.registerAll(s, dir)
      s.sql(s"CREATE TABLE $cat.db.o (o_orderkey BIGINT, o_orderstatus STRING, " +
        "cents BIGINT, CONSTRAINT ck_open CHECK (o_orderstatus <> 'F')) " +
        "USING reftable OPTIONS (onViolation 'drop')")
      s.sql(s"INSERT INTO $cat.db.o SELECT o_orderkey, o_orderstatus, " +
        "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) FROM orders")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        s"CAST(sum(cents) AS BIGINT) AS sum_cents FROM $cat.db.o " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // GENERATED ALWAYS AS columns: the engine computes the expression on
    // every write (here a derived partition bucket + a priority digit),
    // refusing provided values that differ. The oracle replays the
    // expressions as plain SELECT columns.
    QueryDef("q197_generated_columns", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q197_cat")
      val cat = "graftgen_q197_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.o")
      Tables.registerAll(s, dir)
      s.sql(s"CREATE TABLE $cat.db.o (o_orderkey BIGINT, o_orderpriority STRING, " +
        "cents BIGINT, " +
        "prio STRING GENERATED ALWAYS AS (substring(o_orderpriority, 1, 1)), " +
        "bucket BIGINT GENERATED ALWAYS AS (o_orderkey % 8)) " +
        "USING reftable OPTIONS (partitionColumns 'bucket')")
      s.sql(s"INSERT INTO $cat.db.o (o_orderkey, o_orderpriority, cents) " +
        "SELECT o_orderkey, o_orderpriority, " +
        "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) FROM orders")
      s.sql(s"SELECT prio, bucket, count(*) AS cnt, " +
        s"CAST(sum(cents) AS BIGINT) AS sum_cents FROM $cat.db.o " +
        "WHERE bucket IN (2, 5) GROUP BY prio, bucket ORDER BY prio, bucket")
    }, Some(
      """SELECT substring(o_orderpriority, 1, 1) AS prio,
        |  o_orderkey % 8 AS bucket, count(*) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderkey % 8 IN (2, 5)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Table maintenance surface: DESCRIBE HISTORY analogue. Two publishes
    // with deterministic layouts, then VersionedTable.history — file
    // counts from listings, row counts from the stats manifests, ZERO
    // data pages read (the versioned-table sibling of q97). The oracle
    // recomputes the expected rows from the same source table.
    QueryDef("q107_table_history", (s, dir) => {
      import graft.sources.reftable.VersionedTable
      val root = RelationalSupport.scratchDir(s, dir, "q107_hist")
      val nation = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      // fresh root per invocation tag, but bench re-runs reuse it: reset by
      // deleting and republishing so version count stays deterministic
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(graft.sources.reftable.HadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      VersionedTable.publish(nation.repartition(2), root)
      VersionedTable.publish(nation.filter(col("n_regionkey") < 2).repartition(1), root)
      VersionedTable.history(s, root)
        .select("version_idx", "n_files", "n_rows", "is_current")
        .orderBy("version_idx")
    }, Some(
      """SELECT 0 AS version_idx, 2 AS n_files,
        |  (SELECT count(*) FROM nation) AS n_rows, FALSE AS is_current
        |UNION ALL
        |SELECT 1, 1, (SELECT count(*) FROM nation WHERE n_regionkey < 2), TRUE
        |ORDER BY version_idx""".stripMargin)),

    // SQL DML over a PARTITIONED catalog table end-to-end: the analyzer
    // rewrite and SupportsDelete thread the declared partitionColumns into
    // the COW mutations — DELETE pruned by partition value, UPDATE that
    // migrates rows across partition directories, MERGE inserting into a
    // partition that did not exist before the statement.
    QueryDef("q123_sql_dml_partitioned", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q123_pdml")
      val tbl = "graft_q123_" + RelationalSupport.scratchTag(s, dir)
      Tables.registerAll(s, dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
        "schema 's_suppkey BIGINT, s_nationkey INT, cents BIGINT', " +
        "partitionColumns 's_nationkey')")
      s.sql(s"INSERT OVERWRITE $tbl SELECT s_suppkey, s_nationkey, " +
        "CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) FROM supplier")
      s.sql(s"DELETE FROM $tbl WHERE s_nationkey = 3 AND cents < 0")
      s.sql(s"UPDATE $tbl SET s_nationkey = 77 WHERE s_nationkey = 7 AND s_suppkey % 2 = 0")
      s.sql(
        s"""MERGE INTO $tbl t USING (
           |  SELECT s_suppkey AS k, CAST(99 AS INT) AS nk, CAST(555 AS BIGINT) AS c
           |  FROM supplier WHERE s_suppkey % 100 = 0
           |) s ON t.s_suppkey = s.k
           |WHEN MATCHED THEN UPDATE SET cents = s.c
           |WHEN NOT MATCHED THEN INSERT (s_suppkey, s_nationkey, cents)
           |  VALUES (s.k, s.nk, s.c)""".stripMargin)
      s.sql(s"SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents " +
        s"FROM $tbl GROUP BY s_nationkey ORDER BY s_nationkey")
    }, Some(
      """WITH base AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM supplier),
        |afterdel AS (
        |  SELECT * FROM base WHERE NOT (s_nationkey = 3 AND cents < 0)),
        |afterupd AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_nationkey = 7 AND s_suppkey % 2 = 0 THEN 77
        |      ELSE s_nationkey END AS s_nationkey,
        |    cents
        |  FROM afterdel),
        |merged AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CASE WHEN s_suppkey % 100 = 0 THEN 555 ELSE cents END AS cents
        |  FROM afterupd
        |  UNION ALL
        |  SELECT s_suppkey, 99, 555 FROM base
        |  WHERE s_suppkey % 100 = 0
        |    AND s_suppkey NOT IN (SELECT s_suppkey FROM afterupd))
        |SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM merged GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // Manifest-chain endurance end-to-end: 40 successive single-key
    // upserts build a 40-deep mutation chain that CROSSES the
    // MaxChainDepth=32 materialization boundary (the writer re-lists
    // everything once, bounding every later resolution), then the final
    // state AND a VERSION AS OF pinned mid-chain read back through the
    // manifest-resolving listing. keepVersions retains the whole chain so
    // the pinned version's hop path stays intact.
    QueryDef("q124_manifest_chain", (s, dir) => {
      import graft.sources.reftable.{RefTableMutations, VersionedTable}
      val root = RelationalSupport.scratchDir(s, dir, "q124_chain")
      val ddl = "n_nationkey BIGINT, v BIGINT"
      // the 41-commit chain builds ONCE per invocation (the scratch root is
      // per (invocation, sf)): the bench's cold pass pays the 40 sequential
      // commit round-trips — an honest mutation-throughput figure — while
      // the warm pass measures what actually needs regression-tracking at
      // scale, resolving READS through the deep manifest chain
      val conf = graft.sources.reftable.HadoopConf()
      val log = if (VersionedTable.resolve(root, conf).isEmpty) Nil
        else VersionedTable.commitLog(root, conf)
      var vMid: String = if (log.size >= 41) log(20).version else null
      if (vMid == null) {
        val base = Tables.load(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("n_nationkey"),
            col("n_regionkey").cast("long").as("v"))
        VersionedTable.publish(base, root, keepVersions = 50)
        (1 to 40).foreach { i =>
          val src = s.range(1).select(
            lit((i % 25).toLong).as("n_nationkey"), lit(1000L * i).as("v"))
          val v = RefTableMutations.upsert(s, root, src, Seq("n_nationkey"),
            keepVersions = 50)
          if (i == 20) vMid = v
        }
      }
      def read(version: Option[String], state: String) = {
        val r = s.read.format("reftable").option("path", root).option("schema", ddl)
        version.foreach(v => r.option("version", v))
        r.load().select(lit(state).as("state"), col("n_nationkey"), col("v"))
      }
      read(Some(vMid), "mid").unionAll(read(None, "final"))
        .orderBy("state", "n_nationkey")
    }, Some(
      """WITH states AS (
        |  SELECT 'mid' AS state, n_nationkey,
        |    CASE WHEN n_nationkey BETWEEN 1 AND 20 THEN 1000 * n_nationkey
        |      ELSE n_regionkey END AS v
        |  FROM nation
        |  UNION ALL
        |  SELECT 'final', n_nationkey,
        |    CASE WHEN n_nationkey BETWEEN 1 AND 15 THEN 1000 * (n_nationkey + 25)
        |      WHEN n_nationkey BETWEEN 16 AND 24 THEN 1000 * n_nationkey
        |      ELSE 25000 END
        |  FROM nation)
        |SELECT state, CAST(n_nationkey AS BIGINT) AS n_nationkey, CAST(v AS BIGINT) AS v
        |FROM states ORDER BY state, n_nationkey""".stripMargin)),

    // SQL DML under merge-on-read write modes: with deleteMode/updateMode
    // 'mergeOnRead', DELETE commits position sidecars (O(deleted rows),
    // no file rewritten) and UPDATE commits sidecars + the new images
    // (O(matched rows)); every read subtracts positions. The result must
    // equal the oracle's plain replay — MoR is a write-amplification
    // strategy, never a semantics change.
    QueryDef("q159_sql_mor_dml", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q159_mor")
      val tbl = "graft_q159_" + RelationalSupport.scratchTag(s, dir)
      Tables.registerAll(s, dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
        "schema 's_suppkey BIGINT, s_nationkey INT, cents BIGINT', " +
        "deleteMode 'mergeOnRead', updateMode 'mergeOnRead')")
      s.sql(s"INSERT OVERWRITE $tbl SELECT s_suppkey, s_nationkey, " +
        "CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) FROM supplier")
      s.sql(s"DELETE FROM $tbl WHERE cents < 0")
      s.sql(s"UPDATE $tbl SET cents = cents + 1000 WHERE s_nationkey < 5")
      s.sql(s"DELETE FROM $tbl WHERE s_nationkey = 9")
      s.sql(s"SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents " +
        s"FROM $tbl GROUP BY s_nationkey ORDER BY s_nationkey")
    }, Some(
      """WITH base AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM supplier),
        |afterdel AS (SELECT * FROM base WHERE NOT (cents < 0)),
        |afterupd AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CASE WHEN s_nationkey < 5 THEN cents + 1000 ELSE cents END AS cents
        |  FROM afterdel),
        |final AS (SELECT * FROM afterupd WHERE NOT (s_nationkey = 9))
        |SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM final GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // SQL MERGE INTO under mergeMode=mergeOnRead: q117's three-clause
    // merge, but clause-hit rows die by POSITION and the update images +
    // inserts stage as one file — no target file rewritten (the Iceberg
    // write.merge.mode split on the SQL surface). Same oracle replay: MoR
    // is a write-amplification strategy, never a semantics change.
    QueryDef("q166_sql_mor_merge", (s, dir) => {
      val root = RelationalSupport.scratchDir(s, dir, "q166_mrg")
      val tbl = "graft_q166_" + RelationalSupport.scratchTag(s, dir)
      Tables.registerAll(s, dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
        "schema 's_suppkey BIGINT, s_nationkey INT, cents BIGINT', " +
        "mergeMode 'mergeOnRead')")
      s.sql(s"INSERT OVERWRITE $tbl SELECT s_suppkey, s_nationkey, " +
        "CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) FROM supplier")
      s.sql(
        s"""MERGE INTO $tbl t USING (
           |  SELECT s_suppkey AS k, s_nationkey AS nk,
           |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
           |  FROM supplier
           |  UNION ALL
           |  SELECT -s_suppkey - 1000, s_nationkey, CAST(777 AS BIGINT)
           |  FROM supplier WHERE s_suppkey % 20 = 0
           |) s ON t.s_suppkey = s.k
           |WHEN MATCHED AND s.k % 15 = 0 THEN DELETE
           |WHEN MATCHED AND s.k % 2 = 0 THEN UPDATE SET cents = s.c + 5
           |WHEN NOT MATCHED AND s.nk < 20 THEN INSERT (s_suppkey, s_nationkey, cents)
           |  VALUES (s.k, s.nk, s.c)""".stripMargin)
      s.sql(s"SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents " +
        s"FROM $tbl GROUP BY s_nationkey ORDER BY s_nationkey")
    }, Some(
      """WITH base AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM supplier),
        |merged AS (
        |  SELECT s_suppkey, s_nationkey,
        |    CASE WHEN s_suppkey % 2 = 0 THEN cents + 5 ELSE cents END AS cents
        |  FROM base WHERE NOT (s_suppkey % 15 = 0)
        |  UNION ALL
        |  SELECT -s_suppkey - 1000, s_nationkey, 777 FROM base
        |  WHERE s_suppkey % 20 = 0 AND s_nationkey < 20)
        |SELECT s_nationkey, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM merged GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // RENAME COLUMN through the column-mapping indirection: a
    // descriptor-only commit (zero data rewritten) renames `amount` to
    // `price`; files written BEFORE the rename keep their physical column
    // name and resolve through the mapping, files written AFTER carry the
    // same physical name, and one SELECT reads both generations under the
    // new logical name — filters on it narrow, DELETE FROM addresses it.
    // The oracle replays the two inserts and the delete over `orders`.
    QueryDef("q170_rename_column", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q170_cat")
      val cat = "graftren_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.r")
      s.sql(s"CREATE TABLE $cat.db.r (o_orderkey BIGINT, amount DOUBLE) USING reftable")
      Tables.registerAll(s, dir)
      s.sql(s"INSERT INTO $cat.db.r " +
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0")
      s.sql(s"ALTER TABLE $cat.db.r RENAME COLUMN amount TO price")
      s.sql(s"INSERT INTO $cat.db.r " +
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 1")
      s.sql(s"DELETE FROM $cat.db.r WHERE price < 50000")
      s.sql(s"SELECT o_orderkey % 5 AS g, count(*) AS n, " +
        s"round(sum(price), 4) AS total FROM $cat.db.r GROUP BY 1 ORDER BY g")
    }, Some(
      """SELECT o_orderkey % 5 AS g, count(*) AS n,
        |  round(sum(o_totalprice), 4) AS total
        |FROM orders WHERE NOT (o_totalprice < 50000)
        |GROUP BY 1 ORDER BY g""".stripMargin)),

    // Type widening through the descriptor: an INT column widens to BIGINT
    // with ZERO data rewritten — files written before the ALTER keep their
    // INT32 physical type and the readers widen per file (columnar path
    // through a widening vector view), files written after land as INT64,
    // and one SELECT with a filter + aggregate reads both widths
    // uniformly. The oracle replays the two inserts with casts.
    QueryDef("q171_type_widening", (s, dir) => {
      val wh = RelationalSupport.scratchDir(s, dir, "q171_cat")
      val cat = "graftwide_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.w")
      s.sql(s"CREATE TABLE $cat.db.w (k INT, qty INT) USING reftable")
      Tables.registerAll(s, dir)
      s.sql(s"INSERT INTO $cat.db.w " +
        "SELECT CAST(l_orderkey % 1000000 AS INT), CAST(l_quantity AS INT) " +
        "FROM lineitem WHERE l_linenumber = 1")
      s.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN k TYPE BIGINT")
      // post-widen rows land at INT64, with values past INT range
      s.sql(s"INSERT INTO $cat.db.w " +
        "SELECT l_orderkey + 5000000000, CAST(l_quantity AS INT) " +
        "FROM lineitem WHERE l_linenumber = 2")
      s.sql(s"SELECT k % 7 AS g, count(*) AS n, sum(qty) AS total, max(k) AS hi " +
        s"FROM $cat.db.w WHERE k >= 100 GROUP BY 1 ORDER BY g")
    }, Some(
      """WITH w AS (
        |  SELECT CAST(l_orderkey % 1000000 AS BIGINT) AS k, CAST(l_quantity AS INT) AS qty
        |  FROM lineitem WHERE l_linenumber = 1
        |  UNION ALL
        |  SELECT l_orderkey + 5000000000, CAST(l_quantity AS INT)
        |  FROM lineitem WHERE l_linenumber = 2)
        |SELECT k % 7 AS g, count(*) AS n, CAST(sum(qty) AS BIGINT) AS total,
        |  max(k) AS hi
        |FROM w WHERE k >= 100 GROUP BY 1 ORDER BY g""".stripMargin)),

    // STREAMING WRITE INTO A CATALOG TABLE — `writeStream.toTable` through
    // the DSv2 STREAMING_WRITE path (RefTableStreamingWrite): executors
    // write their partitions of each epoch straight to parquet in epoch
    // staging, the driver publishes from commit MESSAGES (paths + lengths
    // only — no row crosses the driver), and the txn:<queryId>:<epoch>
    // marker makes replays exactly-once. The harness forces one: the
    // checkpoint's last commit record is deleted, the restarted engine
    // re-runs that epoch, and the marker lands nothing. Oracle = the
    // batch projection of events.
    QueryDef("q175_stream_to_table", (s, dir) => StreamingOps.withShufflePartitions(s, 8) {
      import java.nio.file.Files
      val wh = RelationalSupport.scratchDir(s, dir, "q175_cat")
      val cat = "graftsw_" + RelationalSupport.scratchTag(s, dir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.reftable.RefTableCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.evlog")
      s.sql(s"CREATE TABLE $cat.db.evlog " +
        "(event_id BIGINT, user_id BIGINT, value DOUBLE) USING reftable")
      val streamDir = Files.createTempDirectory("graft_swtab_in_")
      Files.createSymbolicLink(streamDir.resolve("events.parquet"),
        java.nio.file.Paths.get(Tables.path(dir, "events")))
      val (tsType, _) = StreamingOps.tsEncoding(s, dir)
      val ck = Files.createTempDirectory("graft_swtab_ck_").toString
      def drain(): Unit = {
        val q = s.readStream.schema(StreamingOps.eventsSchema(tsType))
          .parquet(streamDir.toString)
          .select(col("event_id"), col("user_id"), col("value"))
          .writeStream
          .option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.db.evlog")
        val t0 = System.nanoTime()
        q.awaitTermination(120000)
        graft.BenchProbe.addDrain(System.nanoTime() - t0)
        q.stop()
      }
      drain()
      val commits = new java.io.File(s"$ck/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      commits.lastOption.foreach { c =>
        c.delete()
        new java.io.File(c.getParentFile, "." + c.getName + ".crc").delete()
      }
      drain() // replays the epoch; the marker must swallow it
      s.sql(s"SELECT count(*) AS n, round(sum(value), 4) AS total, " +
        s"min(event_id) AS lo, max(event_id) AS hi FROM $cat.db.evlog")
    }, Some(
      """SELECT count(*) AS n, round(sum(value), 4) AS total,
        |  min(event_id) AS lo, max(event_id) AS hi FROM events""".stripMargin))
  )
}
