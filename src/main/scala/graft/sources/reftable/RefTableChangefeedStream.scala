package graft.sources.reftable

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** `changefeed` read mode on the reftable streaming source: each refresh
  * generation's micro-batch is the key-level CHANGE SET between the
  * previous generation's pinned version and this one — `change_type` ∈
  * insert | update | delete plus the row image (after-image; before-image
  * for deletes) — instead of the full snapshot. This lifts the
  * foreachBatch composition (`VersionedTable.changes` per generation,
  * q145/q165) onto a one-option surface:
  *
  * {{{
  *   spark.readStream.format("reftable")
  *     .option("path", root).option("schema", ddl)
  *     .option("changefeed", "true").option("keyColumns", "id")
  *     .load()   // schema + change_type
  * }}}
  *
  * MECHANICS. Offsets are the snapshot stream's (batch, gen, wall)
  * generations; each generation pins the table's CURRENT VERSION NAME into
  * a tiny `pin-<gen>.json` under the checkpoint (versioned roots retain
  * versions, so the previous generation's full listing is reconstructible
  * after ANY restart — the FileStreamSource metadata-log pattern applied
  * to versions instead of files). A batch materializes its diff ONCE into
  * `<checkpoint>/graft_cf/diff-<gen>` and the scan reads those files, so
  * an uncommitted batch replayed after a crash re-reads the identical
  * materialized delta (exactly-once delta content under replay).
  *
  * COST. The diff is computed from the FILE delta of the two pinned
  * listings, not a full-table join: rows of files only in the old listing
  * and positions newly deletion-vector'd form the "left" side, rows of
  * files only in the new listing the "right" side, and one key-joined
  * [[graft.operators.SnapshotDiff.diff]] over just those rows classifies
  * insert/update/delete while cancelling no-op rewrites (a compaction
  * between generations emits an EMPTY delta — same rows, new files, all
  * cancelled). On manifest-delta commit chains (upsert/DELETE/MoR apply)
  * that is O(changed files + changed rows) per generation on any table
  * size; a full physical re-publish degrades to a whole-snapshot diff,
  * which is the true change-set bound anyway.
  *
  * BOOTSTRAP AND FALLBACK. Where the stream STARTS is declared by
  * `changefeedFrom`:
  *  - `earliest` (default): the first batch emits the whole snapshot as
  *    inserts — the standard CDF initial-load shape;
  *  - `latest`: the first batch is EMPTY and pins the current version, so
  *    deltas begin with the next change (consumers that only want what
  *    changes from now on);
  *  - a version dir name: the first batch is the delta FROM that retained
  *    version to current (Delta CDF's startingVersion); if it has been
  *    vacuumed the stream fails loudly — a silent bootstrap would replay
  *    the corpus into a consumer that asked for a delta.
  * If a previous pinned version has been vacuumed away mid-stream, the
  * stream falls back to the snapshot-as-inserts batch (at-least-once;
  * pair with the idempotent [[RefTableMutations.applyChangesMergeOnRead]]
  * replay semantics downstream).
  */
class RefTableChangefeedStream(
    opts: RefTableOptions, required: StructType, pushed: Array[Filter],
    checkpointLocation: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  /** Per-trigger source metrics (`StreamingQueryProgress.sources[].metrics`):
    * the pinned table version the last consumed delta ended at, keyed by its
    * refresh generation — the operator-visible proof the feed is advancing
    * version-by-version rather than re-reading the corpus.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[
      org.apache.spark.sql.connector.read.streaming.Offset]): java.util.Map[String, String] =
    synchronized {
      val m = new java.util.HashMap[String, String]()
      Option(latestConsumedOffset.orElse(null)).foreach { o =>
        val off = RefTableOffset.fromJson(o.json())
        m.put("generation", off.gen.toString)
        pinnedVersion(off.gen).foreach(v => m.put("pinnedVersion", v))
      }
      m
    }

  private val conf = HadoopConf()
  private var last: RefTableOffset = _
  private var availableNowGen: Option[Long] = None
  private val pins = scala.collection.mutable.Map.empty[Long, String]

  private val cfDir = new Path(checkpointLocation, "graft_cf")
  private def pinPath(gen: Long) = new Path(cfDir, s"pin-$gen.json")
  private def diffDir(gen: Long) = new Path(cfDir, s"diff-$gen")
  private val DoneMarker = "_CF_DONE"

  private def computeGen(nowMs: Long): Long =
    if (opts.refreshMs <= 0) 0L else nowMs / opts.refreshMs

  /** Pin generation `gen` to the table's current version (idempotent: an
    * existing pin wins, so latestOffset/plan races within one generation
    * agree on the listing). The pin is claimed through the checkpoint
    * store's [[CommitPrimitive]]; a lost claim adopts the winner's pin.
    */
  private def ensurePinned(gen: Long): String = synchronized {
    pinnedVersion(gen).getOrElse {
      val resolved = VersionedTable.resolveRobust(opts.path, conf).getOrElse(
        throw new IllegalArgumentException(
          s"changefeed requires a versioned table root (no version pointer at ${opts.path}); " +
            "publish through VersionedTable first"))
      val v = new Path(resolved).getName
      val fs = cfDir.getFileSystem(conf)
      fs.mkdirs(cfDir)
      val pinBytes = s"""{"version":"$v"}""".getBytes("UTF-8")
      val p = pinPath(gen)
      if (CommitPrimitive.forPath(p, conf).putIfAbsent(p, pinBytes, conf)) {
        pins(gen) = v
        v
      } else pinnedVersion(gen).getOrElse(
        throw new IllegalStateException(s"changefeed pin $p lost its claim but is unreadable"))
    }
  }

  private def pinnedVersion(gen: Long): Option[String] =
    pins.get(gen).orElse {
      val p = pinPath(gen)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val v = try new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(in).path("version").asText()
        finally in.close()
        if (v.isEmpty) None else { pins(gen) = v; Some(v) }
      }
    }

  override def initialOffset(): Offset = RefTableOffset(-1L, -1L, -1L)

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    val gen = computeGen(System.currentTimeMillis())
    availableNowGen = Some(gen)
  }

  // SupportsTriggerAvailableNow extends SupportsAdmissionControl; admission
  // caps are refused at option validation, so the limit is always
  // allAvailable and both entry points share one implementation
  override def latestOffset(start: Offset, limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    synchronized {
      if (last == null && start != null)
        start match {
          case o: RefTableOffset if o.batch >= 0 => last = o
          case _ => ()
        }
      latestOffset()
    }

  override def latestOffset(): Offset = synchronized {
    val prev = Option(last).getOrElse(RefTableOffset(-1L, -1L, -1L))
    val wallNow = availableNowGen.getOrElse(computeGen(System.currentTimeMillis()))
    last =
      if (prev.gen < 0 || wallNow > prev.wallGen) {
        val gen = math.max(wallNow, prev.gen + 1)
        ensurePinned(gen)
        RefTableOffset(prev.batch + 1, gen, -1L, wallNow)
      } else prev
    last
  }

  /** The pruned, DV-attached listing of a pinned version. */
  private def listingOf(version: String): Seq[SnapshotFile] =
    SnapshotFiles.pruned(opts.copy(version = Some(version)), pushed.toSeq)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val e = end.asInstanceOf[RefTableOffset]
    if (e.batch < 0) return Array.empty
    val scratch = diffDir(e.gen)
    val fs = scratch.getFileSystem(conf)
    if (!fs.exists(new Path(scratch, DoneMarker))) {
      if (fs.exists(scratch)) fs.delete(scratch, true) // partial attempt
      materialize(Option(start).map(_.asInstanceOf[RefTableOffset]), e, scratch)
      LocalFs.createWrite(fs, new Path(scratch, DoneMarker), Array.emptyByteArray)
    }
    val files = SnapshotFiles.listPhysical(scratch.toString, Nil)
    RefTablePartitions.plan(files, e.gen)
  }

  private def materialize(start: Option[RefTableOffset], end: RefTableOffset, scratch: Path): Unit = {
    val spark = SparkSession.active
    val curVer = ensurePinned(end.gen)
    val curFiles = listingOf(curVer)
    val prevVer = start.filter(_.batch >= 0).filter(_.gen >= 0)
      .flatMap(s => pinnedVersion(s.gen))
    val out = prevVer match {
      case Some(pv) =>
        try ChangefeedDiff.fileDeltaDiff(spark, opts, listingOf(pv), curFiles)
        catch {
          case NonFatal(_) =>
            // previous version vacuumed (or unreadable): snapshot-as-inserts
            ChangefeedDiff.bootstrap(spark, opts, curFiles)
        }
      case None => opts.changefeedFrom match {
        // first batch — where the stream STARTS is the declared position:
        case "earliest" => ChangefeedDiff.bootstrap(spark, opts, curFiles) // CDF initial load
        case "latest" =>
          // consumers that only want what changes from now on: empty first
          // delta; end.gen is pinned to the current version, so the next
          // generation diffs from HERE
          ChangefeedDiff.emptyOutput(spark, opts)
            .withColumn("change_type", lit("insert").cast(StringType))
        case fromSpec =>
          // a NAMED retained version (or a tag / TIMESTAMP AS OF spec
          // naming one): the first delta is from→current. Loud failure if
          // it is gone — a silent bootstrap would replay the whole corpus
          // into a consumer that asked for a delta
          val from = VersionedTable.resolveSpec(opts.path, fromSpec, conf)
          val fromFiles =
            try listingOf(from)
            catch { case NonFatal(e) => throw new IllegalArgumentException(
              s"changefeedFrom version '$from' of ${opts.path} is not readable " +
                s"(vacuumed or never committed): ${e.getMessage}", e) }
          ChangefeedDiff.fileDeltaDiff(spark, opts, fromFiles, curFiles)
      }
    }
    VersionedTable.writeParquetMicros(out, scratch.toString, Nil)
  }

  /** The scratch files hold OUTPUT-named columns plus change_type; read
    * them through the standard reader with an identity-mapped options
    * view (the gen column still rides the partition-constant mechanism).
    * Identity includes the column mapping: a renamed column is stored in
    * the scratch under its logical name, and since validation refuses
    * duplicate field names (and `change_type` under changefeed), no two
    * output fields share a storage column.
    */
  private val scanOpts: RefTableOptions = opts.copy(
    schema = StructType(opts.schema.fields :+ StructField("change_type", StringType, nullable = false)),
    rowField = None, keyColumn = None, columnMapping = Map.empty,
    partitionColumns = Nil, hiddenPartitions = Nil,
    version = None, filterSql = None,
    changefeed = false, keyColumns = Nil)

  private val taskConf = new HadoopConf.PerStream

  override def createReaderFactory(): PartitionReaderFactory =
    new RefTableReaderFactory(scanOpts, required, Array.empty, None, taskConf.get())

  override def deserializeOffset(json: String): Offset = {
    val o = RefTableOffset.fromJson(json)
    synchronized { if (last == null || o.batch > last.batch) last = o }
    o
  }

  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[RefTableOffset]
    val fs = cfDir.getFileSystem(conf)
    // the NEXT batch diffs against end.gen: keep its pin, drop older ones
    // and every materialized delta up to and including the committed batch
    pins.keys.filter(_ < e.gen).toList.foreach { g =>
      fs.delete(pinPath(g), false)
      fs.delete(diffDir(g), true)
      pins.remove(g)
    }
    if (fs.exists(cfDir)) {
      val PinName = "pin-(\\d+)\\.json".r
      val DiffName = "diff-(\\d+)".r
      fs.listStatus(cfDir).foreach { s =>
        s.getPath.getName match {
          case PinName(g) if g.toLong < e.gen => fs.delete(s.getPath, false)
          case DiffName(g) if g.toLong < e.gen => fs.delete(s.getPath, true)
          case _ => ()
        }
      }
    }
  }

  override def stop(): Unit = synchronized { pins.clear(); taskConf.release() }
}
