package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-referenced versions (RefTableFileManifest): mutations commit
  * O(changed files) — rewritten data plus a `_FILES.json` naming inherited
  * files in their hosting version dirs — instead of hard-linking/copying
  * every carried file; appends commit O(new data); retention is
  * reference-counted (a hosting dir outlives its own commit while newer
  * versions still name its files).
  */
class RefTableFileManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_fm_$name").toString

  private def physicalParquet(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toIndexedSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName)
  }

  private def currentDir(root: String): String = VersionedTable.resolve(root, conf).get

  test("1-file delete on a many-file version commits O(1) data files and O(1) manifest entries") {
    import spark.implicits._
    val root = tmpDir("o1")
    val df = (0 until 16000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("id"))(files = 64))
    val v1 = currentDir(root)
    assert(physicalParquet(v1).size == 64)

    // a delete confined to one file's key range
    RefTableMutations.deleteWhere(spark, root, col("id") === 42L)
    val v2 = currentDir(root)
    assert(v2 != v1)
    // the new version physically holds ONLY the rewritten file(s)
    val staged = physicalParquet(v2)
    assert(staged.size <= 2, s"expected O(1) rewritten files, got ${staged.size}: $staged")
    // and the manifest carries O(1) entries, not 64
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$v2/${RefTableFileManifest.ManifestName}")), "UTF-8")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(mf)
    assert(node.get("removed").size() <= 2, s"removed: ${node.get("removed")}")
    assert(node.get("added").size() <= 2, s"added: ${node.get("added")}")
    assert(node.get("parent").asText() == new Path(v1).getName)

    // the logical listing still names all files; content is exact
    val files = SnapshotFiles.list(v2)
    assert(files.size == 64)
    val got = spark.read.parquet(files.map(_.path): _*)
    assert(got.count() == 15999)
    assert(got.filter(col("id") === 42L).count() == 0)
    // file skipping still works through inherited hosts' stats manifests
    val opts = RefTableOptions(path = root, schema = got.schema, rowField = None,
      keyColumn = None, refreshMs = 0L, emitPerTrigger = false, genColumn = None)
    val pruned = RefTableStats.prune(v2, files, opts,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 9000L)), conf)
    assert(pruned.size <= 2, s"inherited stats must still prune: kept ${pruned.size}")
  }

  test("append commits O(new data): the base snapshot is referenced, never rewritten") {
    import spark.implicits._
    val root = tmpDir("app")
    val ddl = "id BIGINT, s STRING"
    (0L until 1000L).map(i => (i, s"s$i")).toDF("id", "s")
      .repartition(8).write.format("reftable")
      .option("path", root).option("schema", ddl).mode("overwrite").save()
    val v1 = currentDir(root)
    val baseNames = physicalParquet(v1).toSet
    assert(baseNames.size == 8)

    Seq((5000L, "new")).toDF("id", "s").coalesce(1).write.format("reftable")
      .option("path", root).option("schema", ddl).mode("append").save()
    val v2 = currentDir(root)
    // O(new): one staged file, everything else by reference
    assert(physicalParquet(v2).size == 1, s"append staged ${physicalParquet(v2)}")
    val listed = SnapshotFiles.list(v2)
    assert(listed.size == 9)
    // reads through the source see the union
    val got = spark.read.format("reftable")
      .option("path", root).option("schema", ddl).load()
    assert(got.count() == 1001)
    assert(got.filter(col("id") === 5000L).count() == 1)
    // lineage recorded
    assert(VersionedTable.commitLog(root, conf).last.parent.contains(new Path(v1).getName))
  }

  test("reference-counted retention: a hosting dir outlives its commit; vacuum collects it once unreferenced") {
    import spark.implicits._
    val root = tmpDir("gc")
    val df = (0 until 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("id"))(files = 8))
    val v1name = new Path(currentDir(root)).getName

    // three successive 1-file mutations under minimum retention: v1's
    // commit expires, but its dir hosts files every retained version
    // still references — it must survive
    RefTableMutations.deleteWhere(spark, root, col("id") === 1L, keepVersions = 2)
    RefTableMutations.deleteWhere(spark, root, col("id") === 2L, keepVersions = 2)
    RefTableMutations.deleteWhere(spark, root, col("id") === 3L, keepVersions = 2)
    val committed = VersionedTable.commitLog(root, conf).map(_.version)
    assert(!committed.contains(v1name), "v1's commit must have expired")
    assert(VersionedTable.versionDirs(root, conf).contains(v1name),
      "v1's dir hosts referenced files and must survive its commit")
    // the table still reads exactly
    val cur = currentDir(root)
    val got = spark.read.parquet(SnapshotFiles.list(cur).map(_.path): _*)
    assert(got.count() == 997)

    // a full overwrite drops every reference to v1; vacuuming after the
    // referencing mutation versions expire collects it
    VersionedTable.publish(df, root, keepVersions = 2)
    VersionedTable.publish(df, root, keepVersions = 2)
    VersionedTable.publish(df, root, keepVersions = 2)
    val collected = VersionedTable.vacuum(root, keepVersions = 2)
    assert(!VersionedTable.versionDirs(root, conf).contains(v1name),
      s"v1 must be collected once unreferenced (vacuum removed: $collected)")
    assert(spark.read.parquet(SnapshotFiles.list(currentDir(root)).map(_.path): _*)
      .count() == 1000)
  }

  test("manifest chains materialize at the depth cap and resolve exactly (pure FS)") {
    val root = tmpDir("chain")
    val fs = new Path(root).getFileSystem(conf)
    def mkVersion(name: String): Path = {
      val d = new Path(root, name); fs.mkdirs(d); d
    }
    def fakeFile(dir: Path, name: String, bytes: Int): Unit = {
      val out = fs.create(new Path(dir, name), true)
      try out.write(new Array[Byte](bytes)) finally out.close()
    }
    def vname(i: Int): String = f"v${1000000000000000L + i}%019d" + "_0000000a"
    // physical base: 3 files
    val base = mkVersion(vname(0))
    (0 until 3).foreach(i => fakeFile(base, s"part-$i.parquet", 10 + i))

    // a long mutation chain: hop 1 rewrites base file 0; every later hop
    // retracts the previous hop's rewrite and stages its own — the live
    // set stays at 3 files throughout
    var parent = vname(0)
    val hops = RefTableFileManifest.MaxChainDepth + 4
    (1 to hops).foreach { k =>
      val staging = new Path(root, s".staging-${vname(k)}")
      fs.mkdirs(staging)
      fakeFile(staging, s"rw-$k.parquet", 100 + k)
      RefTableFileManifest.writeDelta(root, staging, parent,
        removedRel =
          if (k == 1) Set(s"${vname(0)}/part-0.parquet")
          else Set(s"${vname(k - 1)}/rw-${k - 1}.parquet"),
        partitionColumns = Nil, conf = conf)
      fs.rename(staging, new Path(root, vname(k)))
      parent = vname(k)
    }
    val resolved = RefTableFileManifest.resolve(root, vname(hops), Nil, conf).get
    val rels = resolved.map(_.rel).toSet
    // base files minus the last removal, plus only the final rewrite
    assert(rels.contains(s"${vname(hops)}/rw-$hops.parquet"))
    assert(!rels.exists(_.contains(s"rw-${hops - 1}")), "retracted rewrite must be gone")
    assert(rels.count(_.startsWith(vname(0))) == 2, s"one base file removed: $rels")
    assert(resolved.size == 3)
    // at least one manifest along the chain materialized (depth reset to 1)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val depths = (1 to hops).map { k =>
      val in = fs.open(new Path(new Path(root, vname(k)), RefTableFileManifest.ManifestName))
      try om.readTree(in).path("depth").asInt() finally in.close()
    }
    assert(depths.max <= RefTableFileManifest.MaxChainDepth,
      s"no manifest may exceed the chain cap: $depths")
    assert(depths.count(_ == 1) >= 2, s"expected a materialization reset: $depths")
    // protectedDirs covers the whole live closure of the final version
    val prot = RefTableFileManifest.protectedDirs(root, Seq(vname(hops)), conf)
    assert(prot.contains(vname(0)), "the physical base hosts live files")
    assert(prot.contains(vname(hops)))
  }

  test("10k inherited files: resolution and protection are metadata-only and exact") {
    // Scale proof for the vacuum/retention closure: a materialized manifest
    // names 10,000 inherited files spread over 40 hosting version dirs that
    // DO NOT EXIST on disk — resolution and protectedDirs must still give
    // exact answers, proving the walk reads manifests only (per-file or
    // per-host-dir filesystem access would throw on the missing dirs).
    // Cost stays O(chain manifests + entries), independent of host layout.
    val root = tmpDir("stress")
    val fs = new Path(root).getFileSystem(conf)
    def vname(i: Int): String = f"v${1000000000000000L + i}%019d" + "_0000000b"
    val hosts = (0 until 40).map(vname)
    val baseName = vname(100)
    fs.mkdirs(new Path(root, baseName))
    // hand-written materialized manifest: depth 1, no parent, 10k entries
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("version", 1); node.put("depth", 1); node.putNull("parent")
    node.putArray("removed")
    val added = node.putArray("added")
    for (h <- 0 until 40; i <- 0 until 250) {
      val e = added.addObject()
      e.put("path", s"${hosts(h)}/part-$i.parquet")
      e.put("len", 10L)
    }
    val out = fs.create(
      new Path(new Path(root, baseName), RefTableFileManifest.ManifestName), true)
    try out.write(om.writeValueAsBytes(node)) finally out.close()

    // a mutation chain on top: each hop stages one file and retracts the
    // previous hop's, exactly like sustained single-file churn
    var parent = baseName
    val hops = 30
    (1 to hops).foreach { k =>
      val staging = new Path(root, s".staging-${vname(200 + k)}")
      fs.mkdirs(staging)
      val f = fs.create(new Path(staging, s"rw-$k.parquet"), true)
      try f.write(new Array[Byte](8)) finally f.close()
      RefTableFileManifest.writeDelta(root, staging, parent,
        removedRel =
          if (k == 1) Set(s"${hosts(0)}/part-0.parquet")
          else Set(s"${vname(200 + k - 1)}/rw-${k - 1}.parquet"),
        partitionColumns = Nil, conf = conf)
      fs.rename(staging, new Path(root, vname(200 + k)))
      parent = vname(200 + k)
    }

    val t0 = System.nanoTime()
    val resolved = RefTableFileManifest.resolve(root, parent, Nil, conf).get
    val prot = RefTableFileManifest.protectedDirs(root, Seq(parent), conf)
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(resolved.size == 10000, s"10k - 1 removed + 1 live rewrite, got ${resolved.size}")
    assert(!resolved.exists(_.rel == s"${hosts(0)}/part-0.parquet"))
    assert(resolved.count(_.rel.endsWith(s"rw-$hops.parquet")) == 1)
    // protection = every chain hop + every hosting dir still referenced
    assert(hosts.forall(prot.contains), "all 40 hosting dirs are load-bearing")
    assert(prot.contains(baseName) && prot.contains(parent))
    assert((1 to hops).forall(k => prot.contains(vname(200 + k))),
      "every chain hop is needed to resolve")
    // metadata-only budget: ~31 small JSON manifests; seconds would mean a
    // per-file walk snuck in
    assert(elapsedMs < 5000, s"resolution+protection took ${elapsedMs}ms")
  }
}
