package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Idempotent landing-zone ingestion — the `COPY INTO` / Auto-Loader
  * batch shape: `CALL cat.system.ingest(table => 'db.t', source =>
  * '/landing/dir')` loads every data file in the source directory that
  * has not been loaded before, exactly once, through the table's declared
  * write gates. Re-running after new files land ingests only the delta;
  * re-running with nothing new is a no-op.
  *
  * File identity is `qualified-path:length` — a re-uploaded file with a
  * new length re-ingests (a changed file is new data); a byte-identical
  * re-upload under the same name is skipped.
  *
  * Exactly-once across crashes, with NO atomic multi-table commit
  * available, via log-first ordering over two versioned tables:
  *
  *  1. the ingest LOG (`<root>__ingest`, append-only rows
  *     `(seq, file, bytes)`) records the batch FIRST, under the replay
  *     marker `txn:ingest-log:<seq>`;
  *  2. the DATA lands second, under `txn:ingest:<seq>`.
  *
  * A crash between the two leaves `seq(log) > seq(data)` — the next call
  * detects it and completes the pending batch's data append before
  * ingesting anything new (the marker makes the completion replay-safe).
  * The failure mode is therefore always "logged but not yet loaded,
  * healed on the next call", never a silent duplicate load. Concurrent
  * callers serialize on the log append's marker: a caller that loses the
  * `seq` race re-reads the log and retries with the next seq.
  *
  * At 100 TB scale the call is O(new files) — the log read is the only
  * full-history cost and it is file METADATA (one tiny row per landed
  * file), never data bytes.
  */
object RefTableIngest {

  final case class Result(ingested: Int, recovered: Int, skipped: Int, seq: Long)

  private val LogSchema = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  /** Durable data-side high-water seq, independent of commit-log
    * retention: `txn:ingest:<seq>` markers prune with ordinary table
    * commits after `keepVersions` writes, and a pruned marker must never
    * make a LOADED batch look unloaded — the recovery path would re-append
    * it, a silent duplicate. Every successful data append claims a
    * create-once `_INGEST_SEQ/<seq>` file at the table root (object-store
    * safe via the root's [[CommitPrimitive]]; retention/vacuum never touch
    * non-version root entries), and every call heals the mark forward to
    * whatever the retained markers still prove. The mark can lag only for
    * a crash that dies between the data commit and the claim AND sees no
    * further ingest call before the marker prunes — the per-crash residual
    * of Delta's SetTransaction retention, instead of a standing hazard on
    * every ordinarily-written table.
    */
  private def seqDir(root: String) = new Path(root.stripSuffix("/"), "_INGEST_SEQ")

  private def claimedSeq(root: String, conf: Configuration): Long = {
    val dir = seqDir(root)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).toIndexedSeq
      .flatMap(s => s.getPath.getName.toLongOption).foldLeft(0L)(math.max)
  }

  private def claimSeq(root: String, seq: Long, conf: Configuration): Unit =
    if (seq > 0L) {
      val dst = new Path(seqDir(root), seq.toString)
      val fs = dst.getFileSystem(conf)
      if (!fs.exists(dst)) {
        fs.mkdirs(seqDir(root))
        CommitPrimitive.forPath(dst, conf)
          .putIfAbsent(dst, Array.emptyByteArray, conf) // lost race = claimed
      }
      // only the MAX marker is ever read ([[claimedSeq]]); older ones are
      // dead weight that the streaming variant would otherwise re-list
      // every trigger, forever (vacuum never touches this dir). Deleting
      // below the just-claimed seq preserves the create-once claim
      // semantics for the newest marker; a concurrent caller claiming a
      // HIGHER seq deletes ours the same way, which is exactly the order
      // the high-water contract needs.
      try fs.listStatus(seqDir(root)).toIndexedSeq
        .filter(s => s.getPath.getName.toLongOption.exists(_ < seq))
        .foreach(s => fs.delete(s.getPath, false))
      catch { case scala.util.control.NonFatal(_) => () } // cleanup is best-effort
    }

  /** Snapshot cache for the ingest log, keyed by the log table's RESOLVED
    * VERSION (version dir names carry a uuid suffix, so a name can never
    * alias different content — a wiped-and-recreated log misses). The
    * streaming variant calls [[ingest]] every trigger, and each call was
    * re-collecting the whole log through a Spark job even when the landing
    * zone had nothing new; with the cache a no-change trigger costs one
    * pointer read instead of a job, and the log read becomes O(new
    * versions), not O(triggers) — the same snapshot caching every
    * log-structured table format does. Entries never invalidate (committed
    * versions are immutable); the LRU only bounds memory.
    */
  private val logCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Map[String, (Long, String)]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, (Long, String)]]): Boolean =
        size() > 64
    })

  /** The ingest-log sibling's options: append-only metadata rows, no
    * gates of its own, same retention as the table.
    */
  private def logOpts(opts: RefTableOptions): RefTableOptions =
    opts.copy(
      path = opts.path.stripSuffix("/") + "__ingest",
      schema = LogSchema,
      expectations = Nil, onViolation = "fail",
      partitionColumns = Nil, hiddenPartitions = Nil,
      zorderBy = Nil, clusterBy = Nil, bucketBy = Nil,
      rowField = None, keyColumn = None, columnMapping = Map.empty,
      categoricalStats = Nil, bloomStats = Nil, ndvStats = Nil,
      // the log's (seq, file, bytes) rows never carry the table's
      // generated columns — inheriting them would fail expr resolution
      generatedColumns = Nil)

  /** `maxFilesPerCall` is the admission cap of the streaming variant
    * ([[ingestStream]]): at most that many NEW files load per call, oldest
    * path-order first; the rest stay unclaimed for the next call. Capped
    * or not, every loaded batch rides the same log-first protocol.
    */
  def ingest(spark: SparkSession, opts: RefTableOptions, source: String,
      format: String = "parquet", maxFilesPerCall: Option[Int] = None): Result = {
    require(Set("parquet", "orc", "json", "csv").contains(format),
      s"ingest: unsupported format '$format' (parquet, orc, json, csv)")
    require(maxFilesPerCall.forall(_ > 0), "ingest: maxFilesPerCall must be positive")
    val conf = HadoopConf()
    val srcPath = new Path(source)
    val fs = srcPath.getFileSystem(conf)
    require(fs.exists(srcPath) && fs.getFileStatus(srcPath).isDirectory,
      s"ingest: source '$source' is not a directory")
    val qualified = fs.makeQualified(srcPath)
    // top-level, non-hidden data files (the landing-zone contract:
    // writers drop whole files; partial uploads use dot/underscore names)
    val listed = fs.listStatus(qualified).toIndexedSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => (s"${s.getPath.toString}:${s.getLen}", s.getPath.toString, s.getLen))
    val lo = logOpts(opts)

    def readLog(): Map[String, (Long, String)] =
      VersionedTable.resolve(lo.path, conf) match {
        case None => Map.empty
        case Some(cur) =>
          val key = cur // full resolved version path: unique per publish
          val hit = logCache.get(key)
          if (hit != null) hit
          else {
            val m = spark.read.format("reftable")
              .option("path", lo.path).option("schema", LogSchema.toDDL)
              .option("version", new Path(cur).getName).load()
              .collect()
              .map(r => (s"${r.getString(1)}:${r.getLong(2)}", (r.getLong(0), r.getString(1))))
              .toMap
            logCache.put(key, m)
            m
          }
      }

    def readFiles(paths: Seq[String]) =
      spark.read.format(format).schema(opts.schema)
        .options(if (format == "csv") Map("header" -> "true") else Map.empty[String, String])
        .load(paths: _*)

    var attempt = 0
    while (true) {
      attempt += 1
      val logged = readLog()
      val sLog = if (logged.isEmpty) 0L else logged.values.map(_._1).max
      val sMark = RefTableWrites.lastCommittedBatch(opts.path, "ingest", conf)
        .getOrElse(0L)
      val sFile = claimedSeq(opts.path, conf)
      if (sMark > sFile) claimSeq(opts.path, sMark, conf) // heal the durable mark
      val sData = math.max(sMark, sFile)
      // crash recovery: a logged batch whose data never landed — complete
      // it before anything new (the marker makes a replay a no-op)
      var recovered = 0
      if (sLog > sData) {
        val pending = logged.collect { case (_, (s, p)) if s == sLog => p }.toSeq
        val gone = pending.filterNot(p => fs.exists(new Path(p)))
        if (gone.nonEmpty) throw new IllegalStateException(
          s"ingest: logged batch $sLog was never loaded and its source file(s) " +
            s"${gone.mkString(", ")} are gone from the landing zone — data is " +
            "unrecoverable; restore the files or remove the log rows")
        RefTableWrites.appendVersion(opts, readFiles(pending),
          txn = Some(("ingest", sLog)))
        claimSeq(opts.path, sLog, conf)
        recovered = pending.size
      }
      // admission cap: oldest path-order first, the rest stay unclaimed
      // (deferred files count as skipped in the Result; the next call —
      // or the stream's next trigger — picks them up)
      val freshAll = listed.filterNot { case (id, _, _) => logged.contains(id) }
        .sortBy(_._2)
      val fresh = maxFilesPerCall.fold(freshAll)(freshAll.take)
      if (fresh.isEmpty)
        return Result(0, recovered, listed.size, math.max(sLog, sData))
      val seq = sLog + 1
      // LOG FIRST: the batch is durable before any data can land
      import spark.implicits._
      val logRows = fresh.map { case (_, p, b) => (seq, p, b) }
        .toDF("seq", "file", "bytes")
      RefTableWrites.appendVersion(lo, logRows, txn = Some(("ingest-log", seq)))
      // a concurrent caller may have won this seq's marker with a
      // DIFFERENT batch — the logged batch at `seq` must EXACTLY equal our
      // fresh set before we load. A subset check is not enough: a caller
      // whose listing is a strict subset of the winner's logged batch
      // would pass it, load only the subset under txn:ingest:<seq>, and
      // the winner's fuller append would then dedupe away as a marker
      // replay — the extra files logged but never loaded, invisible to the
      // recovery path (seq(log) == seq(data)). On mismatch we loop: the
      // re-read log drops the winner's files from `fresh`, and if the
      // winner crashed before loading, the pending-batch recovery path
      // completes its FULL logged set.
      val after = readLog()
      val loggedAtSeq = after.collect { case (id, (s, _)) if s == seq => id }.toSet
      if (loggedAtSeq == fresh.map(_._1).toSet) {
        RefTableWrites.appendVersion(opts, readFiles(fresh.map(_._2)),
          txn = Some(("ingest", seq)))
        claimSeq(opts.path, seq, conf)
        return Result(fresh.size, recovered, listed.size - fresh.size, seq)
      }
      if (attempt >= 5) throw new IllegalStateException(
        "ingest: lost the log-append race 5 times; retry the call")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Streaming landing-zone ingestion — the Auto-Loader shape on the SAME
    * exactly-once protocol as the batch CALL: every trigger discovers and
    * lands only files the ingest log has not claimed, honoring the
    * `maxFilesPerTrigger` admission cap (deferred files load on later
    * triggers). The micro-batch engine here is purely a SCHEDULER:
    * idempotence lives in the table protocol — log-first seq claim, txn
    * markers, the durable `_INGEST_SEQ` high-water — so a replayed or
    * zombie trigger, a concurrent second stream, and a concurrent batch
    * `CALL system.ingest` over the same landing zone all serialize through
    * the log and land nothing twice. Restarts need no offset recovery (the
    * reference's restart contract, PipelineTest.java:151-177, extended to
    * ingest: rows across a restart all visible, none duplicated); the
    * checkpoint only paces the ticker. Stop with `query.stop()`.
    */
  def ingestStream(spark: SparkSession, opts: RefTableOptions, source: String,
      format: String = "parquet", triggerMs: Long = 1000L,
      maxFilesPerTrigger: Option[Int] = None,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ingest_stream").toString)
    // the ticker must produce ≥1 row per trigger: a no-new-offsets trigger
    // never fires foreachBatch, which would silently stretch the cadence
    // past the asked-for triggerMs
    spark.readStream.format("rate")
      .option("rowsPerSecond",
        math.max(1L, 1000L / math.max(1L, triggerMs)).toString)
      .load()
      .writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", cp)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        ingest(spark, opts, source, format, maxFilesPerTrigger); ()
      }
      // unique suffix: concurrent streams over one zone are legal (they
      // serialize through the log) and session query names must not clash
      .queryName(s"reftable-ingest:${opts.path}#" +
        java.util.UUID.randomUUID().toString.take(8))
      .start()
  }

  /** Drain the landing zone NOW (the Trigger.AvailableNow analogue):
    * repeated capped calls until a call lands nothing new.
    */
  def drain(spark: SparkSession, opts: RefTableOptions, source: String,
      format: String = "parquet", maxFilesPerCall: Option[Int] = None): Result = {
    var total = Result(0, 0, 0, 0L)
    var r = ingest(spark, opts, source, format, maxFilesPerCall)
    total = Result(r.ingested, r.recovered, r.skipped, r.seq)
    while (r.ingested > 0 || r.recovered > 0) {
      r = ingest(spark, opts, source, format, maxFilesPerCall)
      total = Result(total.ingested + r.ingested, total.recovered + r.recovered,
        r.skipped, r.seq)
    }
    total
  }
}
