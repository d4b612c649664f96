package graft

import java.nio.file.Files

import graft.sources.reftable.{RefTableCatalog, VersionedTable}
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface through the DSv2 TableCatalog: namespaces, CREATE/DROP/
  * RENAME, INSERT, SELECT, VERSION AS OF time travel, DELETE FROM routed
  * into the copy-on-write mutation path, TRUNCATE as an empty publish.
  */
class RefTableCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  // catalog plugin instances are cached per session after first use, so a
  // shared name would pin every test to the first test's warehouse — each
  // test gets its own catalog name
  private val n = new java.util.concurrent.atomic.AtomicInteger(0)
  private def withCatalog[T](f: (String, String) => T): T = {
    val cat = s"gcat${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    f(cat, wh)
  }

  test("CREATE TABLE AS SELECT creates, writes and reads back through the catalog") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.range(10).createOrReplaceTempView("ctas_src")
      spark.sql(s"CREATE TABLE $cat.db.ct USING reftable AS " +
        "SELECT id, id * 2 AS v FROM ctas_src")
      val got = spark.table(s"$cat.db.ct").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == (0L until 10L).map(i => (i, i * 2)))
      // the created table is a first-class versioned table: INSERT appends
      spark.sql(s"INSERT INTO $cat.db.ct VALUES (100, 200)")
      assert(spark.table(s"$cat.db.ct").count() == 11)
    }
  }

  test("SQL surface end-to-end: create, insert, select, delete, time travel, truncate, drop") {
    withCatalog { (cat, wh) =>
      import spark.implicits._
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, s STRING) USING reftable")
      assert(spark.sql(s"SHOW TABLES IN $cat.db").collect().map(_.getString(1)).contains("t"))

      spark.sql(s"INSERT INTO $cat.db.t VALUES (1,'a'),(2,'b'),(3,'c')")
      val v1 = VersionedTable.versionDirs(s"$wh/db/t", conf).last
      spark.sql(s"INSERT INTO $cat.db.t VALUES (4,'d')")
      assert(spark.table(s"$cat.db.t").count() == 4)

      // DELETE routes through SupportsDelete into the COW mutation
      spark.sql(s"DELETE FROM $cat.db.t WHERE id >= 3")
      assert(spark.table(s"$cat.db.t").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

      // the pre-delete version is still queryable by name
      assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF '$v1'").count() == 3)

      spark.sql(s"TRUNCATE TABLE $cat.db.t")
      assert(spark.table(s"$cat.db.t").count() == 0)
      spark.sql(s"INSERT INTO $cat.db.t VALUES (9,'z')")
      assert(spark.table(s"$cat.db.t").select("s").as[String].collect().toSeq == Seq("z"))

      spark.sql(s"ALTER TABLE $cat.db.t RENAME TO db.t2")
      assert(spark.table(s"$cat.db.t2").count() == 1)
      spark.sql(s"DROP TABLE $cat.db.t2")
      assert(!spark.catalog.tableExists(s"$cat.db.t2"))
    }
  }

  test("DELETE with an untranslatable predicate routes through the mutation, exactly") {
    // length(s) > 1 has no v1 Filter form: the SupportsDelete path refuses
    // it ("Cannot delete from table") — the DML rewrite routes it into the
    // COW mutation instead, which evaluates the arbitrary Column exactly
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db2")
      spark.sql(s"CREATE TABLE $cat.db2.u (id BIGINT, s STRING) USING reftable")
      spark.sql(s"INSERT INTO $cat.db2.u VALUES (1,'ab'),(2,'c')")
      spark.sql(s"DELETE FROM $cat.db2.u WHERE length(s) > 1")
      val left = spark.table(s"$cat.db2.u").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(left.toSeq == Seq((2L, "c")), left.mkString(","))
    }
  }

  test("catalog validates identifiers, options and namespaces") {
    withCatalog { (cat, _) =>
      // table in a missing namespace
      val e1 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.nope.t (id BIGINT) USING reftable")
      }
      assert(e1.getMessage.toLowerCase.contains("nope"), e1.getMessage)
      // bad option fails CREATE, not the first read
      spark.sql(s"CREATE NAMESPACE $cat.db3")
      val e2 = intercept[Exception] {
        spark.sql(
          s"CREATE TABLE $cat.db3.t (id BIGINT) USING reftable OPTIONS (refreshInterval 'bogus')")
      }
      assert(e2.getMessage.contains("refreshInterval"), e2.getMessage)
      // identifier escape attempt
      val e3 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db3.`..` (id BIGINT) USING reftable")
      }
      assert(e3.getMessage.contains("identifier"), e3.getMessage)
    }
  }

  test("TIMESTAMP AS OF resolves the newest version at or before the time") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db5")
      spark.sql(s"CREATE TABLE $cat.db5.t (id BIGINT) USING reftable")
      spark.sql(s"INSERT INTO $cat.db5.t VALUES (1)")
      Thread.sleep(5)
      val mid = System.currentTimeMillis()
      Thread.sleep(5)
      spark.sql(s"INSERT INTO $cat.db5.t VALUES (2)")
      val ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(mid))
      assert(spark.sql(s"SELECT * FROM $cat.db5.t TIMESTAMP AS OF '$ts'").count() == 1)
      assert(spark.table(s"$cat.db5.t").count() == 2)
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM $cat.db5.t TIMESTAMP AS OF '1999-01-01 00:00:00'").count()
      }
      assert(e.getMessage.contains("no version"), e.getMessage)
    }
  }

  test("clusterBy in CREATE TABLE OPTIONS drives file skipping through plain SQL") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db6")
      spark.sql(s"CREATE TABLE $cat.db6.c (id BIGINT, v DOUBLE) USING reftable " +
        "OPTIONS (clusterBy 'id', clusterFiles '8')")
      import spark.implicits._
      (0 until 2000).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
        .createOrReplaceTempView("src_c")
      spark.sql(s"INSERT INTO $cat.db6.c SELECT * FROM src_c")
      val df = spark.sql(s"SELECT * FROM $cat.db6.c WHERE id >= 100 AND id < 200")
      assert(df.count() == 100)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
      }
      assert(scans.nonEmpty && scans.head.partitions.size <= 2,
        s"a selective range over the clustered key must plan O(matching) files, " +
          s"got ${scans.map(_.partitions.size)}")
    }
  }

  test("streaming read of a catalog table emits the current snapshot") {
    withCatalog { (cat, _) =>
      import org.apache.spark.sql.streaming.Trigger
      spark.sql(s"CREATE NAMESPACE $cat.db7")
      spark.sql(s"CREATE TABLE $cat.db7.s (id BIGINT, v STRING) USING reftable")
      spark.sql(s"INSERT INTO $cat.db7.s VALUES (1,'a'),(2,'b')")
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.table(s"$cat.db7.s")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized { got ++= b.select("id").collect().map(_.getLong(0)) }; ()
        }
        .option("checkpointLocation",
          Files.createTempDirectory("graft_cat_stream_ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.stop()
      assert(got.sorted.toSeq == Seq(1L, 2L))
    }
  }

  test("catalog tables read through the full source stack (options honored)") {
    withCatalog { (cat, wh) =>
      spark.sql(s"CREATE NAMESPACE $cat.db4")
      spark.sql(
        s"""CREATE TABLE $cat.db4.k (row_key BIGINT NOT NULL, v STRING) USING reftable
          |OPTIONS (rowField 'row_key', keyColumn 'id')""".stripMargin)
      // writes store the key under its storage name; reads surface rowField
      spark.sql(s"INSERT INTO $cat.db4.k VALUES (10,'x'),(11,'y')")
      val rows = spark.table(s"$cat.db4.k").orderBy("row_key").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 11L))
      // the parquet files really carry the storage column name
      val cur = VersionedTable.resolve(s"$wh/db4/k", conf).get
      assert(spark.read.parquet(cur).columns.toSeq.contains("id"))
    }
  }

  test("ALTER TABLE: add/drop columns evolve the descriptor; unsafe changes refuse") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db5")
      spark.sql(s"CREATE TABLE $cat.db5.t (id BIGINT, v BIGINT) USING reftable")
      spark.sql(s"INSERT INTO $cat.db5.t VALUES (1, 10), (2, 20)")

      spark.sql(s"ALTER TABLE $cat.db5.t ADD COLUMN note STRING")
      // old files null-fill the new column
      val got = spark.table(s"$cat.db5.t").orderBy("id").collect()
        .map(r => (r.getLong(0), r.isNullAt(2))).toSeq
      assert(got == Seq((1L, true), (2L, true)))
      // new writes carry it; old rows still read
      spark.sql(s"INSERT INTO $cat.db5.t VALUES (3, 30, 'n3')")
      val all = spark.table(s"$cat.db5.t").orderBy("id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) "" else r.getString(2))).toSeq
      assert(all == Seq((1L, ""), (2L, ""), (3L, "n3")))

      spark.sql(s"ALTER TABLE $cat.db5.t DROP COLUMN v")
      assert(spark.table(s"$cat.db5.t").columns.toSeq == Seq("id", "note"),
        "dropped column disappears from the projection")
      assert(spark.table(s"$cat.db5.t").count() == 3)

      // type changes: Spark's own analysis refuses narrowing before the
      // catalog is even consulted — either refusal is the safe outcome
      val e2 = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.db5.t ALTER COLUMN id TYPE INT"))
      assert(e2.getMessage.toLowerCase.contains("not supported"), e2.getMessage)
      val e3 = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.db5.t ADD COLUMN bad STRING NOT NULL"))
      assert(e3.getMessage.contains("nullable"), e3.getMessage)
    }
  }

  test("RENAME COLUMN is descriptor-only: old files resolve through the column mapping") {
    withCatalog { (cat, wh) =>
      spark.sql(s"CREATE NAMESPACE $cat.db9")
      spark.sql(s"CREATE TABLE $cat.db9.t (id BIGINT, amount BIGINT) USING reftable")
      spark.sql(s"INSERT INTO $cat.db9.t VALUES (1, 10), (2, 20)")
      val filesBefore = graft.sources.reftable.SnapshotFiles.list(VersionedTable.resolve(s"$wh/db9/t", conf).get)
        .map(_.path).toSet

      spark.sql(s"ALTER TABLE $cat.db9.t RENAME COLUMN amount TO price")
      // zero data rewritten: same version, same files
      assert(graft.sources.reftable.SnapshotFiles.list(VersionedTable.resolve(s"$wh/db9/t", conf).get)
        .map(_.path).toSet == filesBefore)
      assert(spark.table(s"$cat.db9.t").columns.toSeq == Seq("id", "price"))
      // pre-rename rows read through the mapping
      assert(spark.sql(s"SELECT sum(price) FROM $cat.db9.t").collect().head.getLong(0) == 30L)

      // post-rename INSERT writes the PHYSICAL name, so one generation
      // holds old and new files and both resolve
      spark.sql(s"INSERT INTO $cat.db9.t VALUES (3, 30)")
      val all = spark.table(s"$cat.db9.t").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(all == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
      val cur = VersionedTable.resolve(s"$wh/db9/t", conf).get
      val physCols = graft.sources.reftable.SnapshotFiles.list(cur).flatMap(f =>
        spark.read.parquet(f.path).columns).toSet
      assert(physCols == Set("id", "amount"), s"files must keep the physical name: $physCols")

      // filters and DML address the new name, narrowing included
      assert(spark.sql(s"SELECT id FROM $cat.db9.t WHERE price = 20").collect()
        .map(_.getLong(0)).toSeq == Seq(2L))
      spark.sql(s"UPDATE $cat.db9.t SET price = 99 WHERE id = 1")
      spark.sql(s"DELETE FROM $cat.db9.t WHERE price = 30")
      val after = spark.table(s"$cat.db9.t").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(after == Seq((1L, 99L), (2L, 20L)))

      // rename back to the original name drops the mapping entry
      spark.sql(s"ALTER TABLE $cat.db9.t RENAME COLUMN price TO amount")
      assert(spark.sql(s"SELECT sum(amount) FROM $cat.db9.t").collect().head.getLong(0) == 119L)

      // chained rename keeps resolving the ORIGINAL physical bytes
      spark.sql(s"ALTER TABLE $cat.db9.t RENAME COLUMN amount TO cost")
      spark.sql(s"ALTER TABLE $cat.db9.t RENAME COLUMN cost TO total")
      assert(spark.sql(s"SELECT sum(total) FROM $cat.db9.t").collect().head.getLong(0) == 119L)

      // adding a column named like the claimed physical name is refused
      val e = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.db9.t ADD COLUMN amount BIGINT"))
      assert(e.getMessage.contains("claimed"), e.getMessage)
      // renaming onto an existing column is refused
      val e2 = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.db9.t RENAME COLUMN total TO id"))
      assert(e2.getMessage.contains("already exists"), e2.getMessage)
    }
  }

  test("SMALLINT and TINYINT columns decode as declared and widen under ALTER COLUMN TYPE") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // parquet stores both as INT32 annotated INT(16) / INT(8)
    val dir = Files.createTempDirectory("graft_smallint").toString
    Seq[(Long, Option[Short], Option[Byte])](
      (1L, Some(Short.MinValue), Some(Byte.MinValue)), (2L, Some(-1), Some(-1)),
      (3L, None, None), (4L, Some(Short.MaxValue), Some(Byte.MaxValue)), (5L, Some(7), Some(0)))
      .toDF("id", "s", "b").repartition(1).write.mode("overwrite").parquet(dir)
    val ref = spark.read.format("reftable").option("path", dir)
      .option("schema", "id BIGINT, s SMALLINT, b TINYINT").load()
    val exp = spark.read.parquet(dir)
    assert(ref.schema.map(_.dataType.simpleString) == Seq("bigint", "smallint", "tinyint"))
    assert(ref.exceptAll(exp).count() == 0 && exp.exceptAll(ref).count() == 0)
    val refNeg = ref.filter(col("s") < 0 && col("b") < 0)
    val expNeg = exp.filter(col("s") < 0 && col("b") < 0)
    assert(refNeg.count() == 2 &&
      refNeg.exceptAll(expNeg).count() == 0 && expNeg.exceptAll(refNeg).count() == 0)

    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db20")
      spark.sql(s"CREATE TABLE $cat.db20.t (id INT, s SMALLINT, b TINYINT) USING reftable")
      spark.sql(s"INSERT INTO $cat.db20.t VALUES " +
        s"(1, CAST(${Short.MinValue} AS SMALLINT), CAST(${Byte.MinValue} AS TINYINT)), " +
        s"(2, CAST(${Short.MaxValue} AS SMALLINT), CAST(${Byte.MaxValue} AS TINYINT)), " +
        "(3, NULL, NULL)")
      spark.sql(s"ALTER TABLE $cat.db20.t ALTER COLUMN s TYPE BIGINT")
      spark.sql(s"ALTER TABLE $cat.db20.t ALTER COLUMN b TYPE INT")
      assert(spark.table(s"$cat.db20.t").schema.map(_.dataType.simpleString) ==
        Seq("int", "bigint", "int"))
      // the INT(16) / INT(8) files read at the new widths
      def rows = spark.table(s"$cat.db20.t").orderBy("id").collect().toSeq.map(r =>
        (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Int])))
      assert(rows == Seq(
        (1, Some(Short.MinValue.toLong), Some(Byte.MinValue.toInt)),
        (2, Some(Short.MaxValue.toLong), Some(Byte.MaxValue.toInt)),
        (3, None, None)))
      // a post-widen write lands at the new width; both widths read together
      spark.sql(s"INSERT INTO $cat.db20.t VALUES (4, ${Long.MinValue}, ${Int.MinValue})")
      assert(rows.last == (4, Some(Long.MinValue), Some(Int.MinValue)))
      assert(spark.sql(s"SELECT id FROM $cat.db20.t WHERE s < 0 AND b < 0")
        .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 4))
    }
  }

  test("ALTER COLUMN TYPE widening is descriptor-only: old INT32/FLOAT files read widened") {
    withCatalog { (cat, wh) =>
      spark.sql(s"CREATE NAMESPACE $cat.db11")
      spark.sql(s"CREATE TABLE $cat.db11.t (id INT, v FLOAT) USING reftable")
      spark.sql(s"INSERT INTO $cat.db11.t VALUES (1, CAST(1.5 AS FLOAT)), (2, CAST(0.1 AS FLOAT))")
      val filesBefore = graft.sources.reftable.SnapshotFiles
        .list(VersionedTable.resolve(s"$wh/db11/t", conf).get).map(_.path).toSet

      spark.sql(s"ALTER TABLE $cat.db11.t ALTER COLUMN id TYPE BIGINT")
      spark.sql(s"ALTER TABLE $cat.db11.t ALTER COLUMN v TYPE DOUBLE")
      // zero data rewritten
      assert(graft.sources.reftable.SnapshotFiles
        .list(VersionedTable.resolve(s"$wh/db11/t", conf).get).map(_.path).toSet == filesBefore)
      assert(spark.table(s"$cat.db11.t").schema.map(_.dataType.simpleString) ==
        Seq("bigint", "double"))
      // old INT32/FLOAT files decode widened — float->double exact
      val rows = spark.table(s"$cat.db11.t").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == Seq((1L, 1.5d), (2L, 0.1f.toDouble)))

      // post-widen INSERT writes the wider physical type; one generation
      // holds both widths and reads uniformly
      spark.sql(s"INSERT INTO $cat.db11.t VALUES (${Long.MaxValue}, 2.5)")
      val all = spark.table(s"$cat.db11.t").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(all == Seq((1L, 1.5d), (2L, 0.1f.toDouble), (Long.MaxValue, 2.5d)))

      // filters on the widened column stay exact across both file widths
      // (parquet pushdown is withheld on the narrow files; residuals apply)
      assert(spark.sql(s"SELECT id FROM $cat.db11.t WHERE id >= 2").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(2L, Long.MaxValue))
      assert(spark.sql(s"SELECT id FROM $cat.db11.t WHERE v = CAST(CAST(0.1 AS FLOAT) AS DOUBLE)")
        .collect().map(_.getLong(0)).toSeq == Seq(2L))

      // footer-stats aggregates coerce per-file widths to the declared type
      val agg = spark.sql(s"SELECT count(*), min(id), max(id) FROM $cat.db11.t").collect().head
      assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == (3L, 1L, Long.MaxValue))

      // narrowing refuses (Spark's analysis or our catalog — either way)
      val e = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.db11.t ALTER COLUMN id TYPE INT"))
      assert(e.getMessage.toLowerCase.contains("not supported") ||
        e.getMessage.contains("widening"), e.getMessage)
      // non-numeric widening refuses
      val e2 = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.db11.t ALTER COLUMN id TYPE STRING"))
      assert(e2.getMessage.toLowerCase.contains("not supported") ||
        e2.getMessage.contains("widening"), e2.getMessage)

      // widening composes with RENAME (both descriptor-only indirections)
      spark.sql(s"ALTER TABLE $cat.db11.t RENAME COLUMN v TO w")
      assert(spark.sql(s"SELECT round(sum(w), 4) FROM $cat.db11.t").collect().head.getDouble(0) ==
        BigDecimal(1.5d + 0.1f.toDouble + 2.5d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("RENAME COLUMN of a layout-referenced column refuses via revalidation") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db10")
      spark.sql(s"CREATE TABLE $cat.db10.p (id BIGINT, seg STRING) USING reftable " +
        "OPTIONS (partitionColumns 'seg')")
      val e = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.db10.p RENAME COLUMN seg TO region"))
      assert(e.getMessage.contains("seg"), e.getMessage)
      // dropping a RENAMED column retires its PHYSICAL name
      spark.sql(s"CREATE TABLE $cat.db10.q (id BIGINT, v BIGINT) USING reftable")
      spark.sql(s"INSERT INTO $cat.db10.q VALUES (1, 7)")
      spark.sql(s"ALTER TABLE $cat.db10.q RENAME COLUMN v TO w")
      spark.sql(s"ALTER TABLE $cat.db10.q DROP COLUMN w")
      val e2 = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.db10.q ADD COLUMN v BIGINT"))
      assert(e2.getMessage.contains("resurrect"), e2.getMessage)
      // the renamed-away logical name is reusable (its physical was v)
      spark.sql(s"ALTER TABLE $cat.db10.q ADD COLUMN w BIGINT")
      assert(spark.table(s"$cat.db10.q").columns.toSeq == Seq("id", "w"))
    }
  }

  test("ALTER TABLE refuses re-adding a dropped column name (stale-byte resurrection)") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db8")
      spark.sql(s"CREATE TABLE $cat.db8.t (id BIGINT, v BIGINT) USING reftable")
      spark.sql(s"INSERT INTO $cat.db8.t VALUES (1, 10)")
      spark.sql(s"ALTER TABLE $cat.db8.t DROP COLUMN v")
      // the file written before the drop still carries v=10; re-adding the
      // name would read that stale 10 back instead of null
      val e = intercept[Exception](spark.sql(s"ALTER TABLE $cat.db8.t ADD COLUMN v BIGINT"))
      assert(e.getMessage.contains("resurrect"), e.getMessage)
      // the tombstone survives descriptor rewrites by OTHER alterations
      spark.sql(s"ALTER TABLE $cat.db8.t ADD COLUMN w BIGINT")
      val e2 = intercept[Exception](spark.sql(s"ALTER TABLE $cat.db8.t ADD COLUMN v BIGINT"))
      assert(e2.getMessage.contains("resurrect"), e2.getMessage)
      // a fresh name is fine, and the table still reads
      assert(spark.table(s"$cat.db8.t").columns.toSeq == Seq("id", "w"))
      assert(spark.table(s"$cat.db8.t").count() == 1)
    }
  }

  test("time travel never resolves an uncommitted orphan version directory") {
    withCatalog { (cat, wh) =>
      spark.sql(s"CREATE NAMESPACE $cat.db9")
      spark.sql(s"CREATE TABLE $cat.db9.t (id BIGINT) USING reftable")
      spark.sql(s"INSERT INTO $cat.db9.t VALUES (1)")
      val root = s"$wh/db9/t"
      val committed = VersionedTable.versionDirs(root, conf).last
      // simulate a publish that crashed after the staging rename but
      // before its commit claim: a version-shaped dir with data in it,
      // NEWER than the committed one, that no commit references
      val orphan = f"v${VersionedTable.versionTimestampMs(committed) + 1}%019d" + "_deadbeef"
      spark.range(99).toDF("id").write.parquet(s"$root/$orphan")
      val e = intercept[Exception](
        spark.sql(s"SELECT * FROM $cat.db9.t VERSION AS OF '$orphan'").count())
      assert(e.getMessage.contains("no retained committed version"), e.getMessage)
      // TIMESTAMP AS OF after the orphan's embedded time picks the
      // committed version, not the orphan (99 rows would betray it)
      val ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(System.currentTimeMillis() + 5000))
      assert(spark.sql(s"SELECT * FROM $cat.db9.t TIMESTAMP AS OF '$ts'").count() == 1)
      // history lists only committed states
      assert(VersionedTable.history(spark, root).count() == 1)
      // the committed version itself still time-travels by name
      assert(spark.sql(s"SELECT * FROM $cat.db9.t VERSION AS OF '$committed'").count() == 1)
    }
  }

  test("metadata tables: $history, $commits and $files answer through plain SQL") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db6")
      spark.sql(s"CREATE TABLE $cat.db6.t (id BIGINT, s STRING) USING reftable")
      spark.sql(s"INSERT INTO $cat.db6.t VALUES (1,'a'),(2,'b')")
      spark.sql(s"INSERT INTO $cat.db6.t VALUES (3,'c')")

      val hist = spark.sql(
        s"SELECT version_idx, n_rows, is_current FROM $cat.db6.`t$$history` ORDER BY version_idx")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(hist == Seq((0, 2L, false), (1, 3L, true)), s"got $hist")

      val commits = spark.sql(
        s"SELECT seq, parent IS NULL AS root FROM $cat.db6.`t$$commits` ORDER BY seq")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      // first INSERT INTO an empty root derives from nothing; the second
      // records the first as its parent
      assert(commits == Seq((1L, true), (2L, false)), s"got $commits")

      val files = spark.sql(
        s"SELECT count(*) AS n, sum(n_rows) AS rows FROM $cat.db6.`t$$files`")
        .collect().head
      assert(files.getLong(1) == 3L, "current version's stats rows sum to the table count")
      assert(files.getLong(0) >= 1L)

      // the scan is driver-local: no exchanges, no file sources
      val plan = spark.sql(s"SELECT * FROM $cat.db6.`t$$history`")
        .queryExecution.executedPlan.toString()
      assert(plan.contains("LocalTableScan"), s"expected LocalTableScan:\n$plan")

      val e = intercept[Exception](spark.sql(s"SELECT * FROM $cat.db6.`t$$nope`"))
      assert(e.getMessage.contains("unknown metadata table"), e.getMessage)
    }
  }

  test("$partitions censuses per-partition files/bytes/rows; unpartitioned = one row") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db12")
      spark.sql(s"CREATE TABLE $cat.db12.p (id BIGINT, dt STRING) USING reftable " +
        "OPTIONS (partitionColumns 'dt')")
      spark.sql(s"INSERT INTO $cat.db12.p SELECT id, " +
        "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' END " +
        "FROM range(90)")
      val parts = spark.sql(
        s"SELECT dt, n_files, bytes, n_rows FROM $cat.db12.`p$$partitions` ORDER BY dt")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
      assert(parts.map(_._1) == Seq("a", "b", "c"), s"got $parts")
      assert(parts.forall(_._4 == 30L), s"30 rows per partition, got $parts")
      assert(parts.forall(p => p._2 >= 1 && p._3 > 0L))
      // driver-local plan, like the other metadata tables
      val plan = spark.sql(s"SELECT * FROM $cat.db12.`p$$partitions`")
        .queryExecution.executedPlan.toString()
      assert(plan.contains("LocalTableScan"), s"expected LocalTableScan:\n$plan")

      // unpartitioned: a single census row with no partition columns
      spark.sql(s"CREATE TABLE $cat.db12.u (id BIGINT) USING reftable")
      spark.sql(s"INSERT INTO $cat.db12.u SELECT id FROM range(10)")
      val u = spark.sql(s"SELECT * FROM $cat.db12.`u$$partitions`").collect()
      assert(u.length == 1 && u.head.getLong(2) == 10L, u.mkString(","))

      // COW delete keeps the census consistent with the rewritten version
      spark.sql(s"DELETE FROM $cat.db12.p WHERE dt = 'b'")
      val after = spark.sql(
        s"SELECT dt, n_rows FROM $cat.db12.`p$$partitions` ORDER BY dt")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(after == Seq(("a", 30L), ("c", 30L)), s"got $after")
    }
  }

  test("$layout reports bucketing, partitioning and manifest state of the current version") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE NAMESPACE $cat.db7")
      spark.sql(s"CREATE TABLE $cat.db7.b (id BIGINT, v BIGINT) USING reftable " +
        "OPTIONS (bucketBy 'id', bucketCount '8')")
      spark.sql(s"INSERT OVERWRITE $cat.db7.b SELECT id, id FROM range(100)")
      def layout(tbl: String): Map[String, String] =
        spark.sql(s"SELECT property, value FROM $cat.db7.`$tbl$$layout`")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val lb = layout("b")
      assert(lb("bucket_columns") == "id" && lb("bucket_count") == "8")
      // every publish now carries a materialized file manifest
      assert(lb("n_files") == "8" && lb("manifest_referenced") == "true")

      spark.sql(s"CREATE TABLE $cat.db7.p (id BIGINT, dt STRING) USING reftable " +
        "OPTIONS (partitionColumns 'dt')")
      spark.sql(s"INSERT OVERWRITE $cat.db7.p SELECT id, CAST(id % 3 AS STRING) FROM range(30)")
      val lp = layout("p")
      assert(lp("partition_columns") == "dt", s"got $lp")
      // a mutation flips the version to manifest-referenced; the recorded
      // partition values still surface the layout
      spark.sql(s"DELETE FROM $cat.db7.p WHERE dt = '1' AND id < 10")
      val lp2 = layout("p")
      assert(lp2("manifest_referenced") == "true" && lp2("partition_columns") == "dt", s"got $lp2")
    }
  }
}
