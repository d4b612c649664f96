package graftbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.reftable.{RefTableMutations, VersionedTable}

/** The streaming lookup workload `refresh_under_writes`: a keyed 200k-row
  * reftable read with `emitMode=trigger` and `refreshInterval=1s` on the
  * default back-to-back trigger, each micro-batch left-joining the whole
  * snapshot with the events an open-loop generator created since the
  * previous batch, while one writer commits a 1,000-key copy-on-write upsert
  * about every 2.2 s. Loads the source's offsets, refresh, listing and
  * manifest resolve, the read, exec and checkpoint of each trigger, the
  * commit path, and read/write contention.
  */
object LookupWorkload {
  /** One completed batch callback: the committed sequence its snapshot
    * showed, and whether it ran with tracing on.
    */
  final case class BatchRec(batchId: Long, start: Double, end: Double, version: Long,
      traced: Boolean, spanId: Long, ok: Boolean)

  /** One traced trigger split into layer self times (ms). */
  final case class BatchSplit(trigger: TriggerRec, jobs: Seq[JobRec],
      stages: Seq[StageRec], scans: Seq[StageRec],
      source: Double, read: Double, exec: Double, checkpoint: Double, jobWall: Double) {
    def unattributed: Double = trigger.wall - source - read - exec - checkpoint
  }

  /** One batch's enriched rows, waiting to be checked. */
  final case class Enriched(batchId: Long, start: Double, end: Double, traced: Boolean,
      spanId: Long, events: Seq[Event], rows: Array[Row])

  /** One writer commit: the acknowledgement time its schedule slot aims
    * at, and when it started and was acknowledged.
    */
  final case class CommitRec(seq: Long, slot: Double, start: Double, ack: Double,
      spanId: Long, filesWritten: Long, bytesWritten: Long, threadCpuMs: Double)

  /** The Java threads' CPU times (ms) read as a batch callback starts. */
  final case class CpuAt(t: Double, threads: Map[Long, Double])

  final case class Spec(name: String, rows: Long, refresh: String)
  val Refresh = Spec("refresh_under_writes", 200000L, "1s")
  val SetUps = 3

  /** Data files of the initial version; each holds a contiguous key range. */
  val Files = 8
  /** Updates hit the newest 1/16 of the keys: recent entities change most,
    * and a key-local batch lets the copy-on-write upsert narrow its rewrite
    * to the files covering that range.
    */
  val HotKeyShare = 1.0 / 16

  /** About 5,000 events per trigger of about half a second: the sizing of
    * a snapshot batch joined with 5k events.
    */
  val EventsPerSec = 10000
  val AbsentShare = 0.05
  /** Unmeasured streaming before the window: the JVM is still compiling
    * the batch's code for tens of seconds, and the CPU time of a batch
    * falls as it does; the window starts on the flatter part of that slope.
    */
  val WarmUpMs = 6000.0
  /** About one commit every 2.2 s: a 1,000-key upsert takes about a second
    * next to the running stream on 4 cores, so one a second would leave
    * the writer ever further behind. The period is stretched so that a
    * window holds a whole number of commits (a 15 s window: seven, 2.14 s
    * apart) and every seed's window carries the same write load; the
    * period's offset from whole seconds walks the acknowledgements through
    * evenly spaced phases of the refresh period.
    */
  val TargetCommitPeriodMs = 2200.0
  val RefreshMs = 1000.0
  /** A copy-on-write upsert of 1,000 keys: 800 updates and 200 inserts. */
  val UpdatesPerCommit = 800
  val InsertsPerCommit = 200
  val DrainTimeoutMs = 30000.0

  val Schema = "k BIGINT, seq BIGINT, a BIGINT, s STRING"
  // a bijection of [0, rows) that scatters the hot ranks across the key
  // space (prime, coprime with both table sizes)
  val Scatter = 999983L
}

/** One generated lookup event, stamped with the time it was due. */
final case class Event(id: Long, key: Long, due: Double)

/** Ground truth of the table: the value of every key at every committed
  * sequence. Row values are pure functions of (seed, key, seq), so only
  * the sequences that wrote each key are kept.
  */
final class Truth(seed: Long, rows: Long) {
  private val seedMix = java.lang.Math.floorMod(seed, 1000003L)
  val Heartbeat: Long = rows + 10000000L
  private val history = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
  private val aborted = mutable.Set.empty[Long]
  private val insertsBySeq = mutable.TreeMap.empty[Long, Long]

  def a(k: Long, seq: Long): Long =
    java.lang.Math.floorMod(k * 2654435761L + seq * 40503L + seedMix * 97L, 1000000007L)
  def s(k: Long, seq: Long): String = "s" + java.lang.Math.floorMod(a(k, seq) * 31 + seq, 99991L)

  def aCol(k: org.apache.spark.sql.Column, seq: Long): org.apache.spark.sql.Column =
    pmod(k * lit(2654435761L) + lit(seq * 40503L + seedMix * 97L), lit(1000000007L))
  def sCol(a: org.apache.spark.sql.Column, seq: Long): org.apache.spark.sql.Column =
    concat(lit("s"), pmod(a * lit(31L) + lit(seq), lit(99991L)).cast("string"))

  def plan(seq: Long, keys: Iterable[Long], inserts: Long): Unit = synchronized {
    keys.foreach(k => history.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += seq)
    insertsBySeq(seq) = inserts
  }
  def abort(seq: Long): Unit = synchronized { aborted += seq }

  /** Sequence that last wrote `k` at committed sequence `v`; None = absent. */
  def seqAt(k: Long, v: Long): Option[Long] = synchronized {
    val w = history.get(k).flatMap(_.filter(s => s <= v && !aborted(s)).maxOption)
    w.orElse(if ((k >= 0 && k < rows) || k == Heartbeat) Some(0L) else None)
  }

  def liveRows(v: Long): Long = synchronized {
    rows + 1 + insertsBySeq.range(1, v + 1).filterNot(e => aborted(e._1)).values.sum
  }
}

final class LookupWorkload(spark: SparkSession, args: Args, tracer: Tracer, taskCpu: TaskCpu,
    out: Outcome, spec: LookupWorkload.Spec) {
  import LookupWorkload._

  private val ledger = out.ledger
  private val truth = new Truth(args.seed, spec.rows)
  private val queue = new ConcurrentLinkedQueue[Event]()
  private val backlog = new AtomicLong(0)

  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val scanBytes = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  // wall time of each batch callback, the exec span included
  private val callbackMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  private val cpuAt = new java.util.concurrent.ConcurrentHashMap[Long, CpuAt]()
  // the benchmark's own threads, left out of the program's CPU time
  private val ownThreads = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  // (due, latency) of every event enriched and verified
  private val latencies = new ConcurrentLinkedQueue[(Double, Double)]()
  private val lags = new ConcurrentLinkedQueue[(Double, Double)]()
  private val backlogMax = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  @volatile private var windowIndex = -1
  @volatile private var batchCount = 0L
  private val generated = new AtomicLong(0)
  private val eventsFailed = new AtomicLong(0)

  private def failEvents(n: Int, why: String): Unit = {
    eventsFailed.addAndGet(n)
    ledger.fail(n, why)
  }

  private val commits = new ConcurrentLinkedQueue[CommitRec]()
  private val commitPeriodMs = {
    val windowMs = args.seconds * 1000.0
    windowMs / math.max(1L, math.round(windowMs / TargetCommitPeriodMs))
  }

  private def root(i: Int) = new File(args.workDir, s"${spec.name}-table-$i").getPath
  private def checkpoint(i: Int) = new File(args.workDir, s"${spec.name}-ckpt-$i").getPath

  private def initialTable(): DataFrame = {
    val base = spark.range(0, spec.rows, 1, Files).select(col("id").as("k"))
      .union(spark.range(truth.Heartbeat, truth.Heartbeat + 1, 1, 1).select(col("id").as("k")))
    val withA = base.select(col("k"), lit(0L).as("seq"), truth.aCol(col("k"), 0L).as("a"))
    withA.select(col("k"), col("seq"), col("a"), truth.sCol(col("a"), 0L).as("s"))
  }

  private val eventSchema = StructType(Seq(
    StructField("eid", LongType, nullable = false), StructField("k", LongType, nullable = false)))

  /** The micro-batch body: enrich the buffered events against the snapshot
    * (plus a probe of the heartbeat key) and hand the rows to the checker.
    */
  private def onBatch(snapshot: DataFrame, batchId: Long): Unit = {
    val start = Clock.nowMs
    cpuAt.put(batchId, CpuAt(start, Jvm.threadsCpuMs()))
    val traced = tracer.enabled
    val evs = mutable.ArrayBuffer.empty[Event]
    var e = queue.poll()
    while (e != null) { evs += e; e = queue.poll() }
    backlog.addAndGet(-evs.size)
    batchCount += 1
    try {
      if (args.faultEvery > 0 && batchCount % args.faultEvery == 0)
        throw new IllegalStateException("injected fault")
      val probe = evs.map(ev => Row(ev.id, ev.key)) :+ Row(-1L, truth.Heartbeat)
      // the span covers the batch's Spark work: building the event
      // relation, planning the join and running it
      val rows = tracer.span("exec", s"batch-$batchId") {
        spark.createDataFrame(probe.asJava, eventSchema)
          .join(snapshot, Seq("k"), "left")
          .select("eid", "k", "seq", "a", "s")
          .collect()
      }
      val end = Clock.nowMs
      val spanId = tracer.lastSpanId
      if (traced) scanBytes.put(batchId, Plans.metricSum(Plans.currentBatchPlan(running), "splitBytes"))
      toCheck.put(Some(Enriched(batchId, start, end, traced, spanId, evs.toSeq, rows)))
      callbackMs.put(batchId, Clock.nowMs - start)
    } catch {
      case t: Throwable =>
        failEvents(evs.size, s"batch failed: ${t.getClass.getSimpleName}: ${t.getMessage}")
        batches.add(BatchRec(batchId, start, Clock.nowMs, -1L, traced, 0L, ok = false))
    }
  }

  private val toCheck = new java.util.concurrent.LinkedBlockingQueue[Option[Enriched]]()

  /** Checks each enriched batch off the batch's own thread, and not while a
    * window is measured: the check is the benchmark's work, so it stays out
    * of the triggers and the CPU time it measures.
    */
  @volatile private var holdChecks = false
  private val checker = new Thread("graftbench-check") {
    override def run(): Unit = {
      var next = toCheck.take()
      while (next.isDefined) {
        while (holdChecks) Thread.sleep(5)
        next.foreach(check)
        next = toCheck.take()
      }
    }
  }

  /** Checks every row of a batch against the ground truth at the snapshot's
    * committed sequence, which the heartbeat row shows.
    */
  private def check(b: Enriched): Unit = try {
    val byEid = b.rows.groupBy(_.getLong(0))
    val version = byEid.get(-1L) match {
      case Some(Array(hb)) if !hb.isNullAt(2) && hb.getLong(3) == truth.a(truth.Heartbeat, hb.getLong(2)) =>
        hb.getLong(2)
      case _ => -1L
    }
    if (version < 0) {
      failEvents(b.events.size, "heartbeat row missing or wrong")
      batches.add(BatchRec(b.batchId, b.start, b.end, -1L, b.traced, b.spanId, ok = false))
    } else {
      var bad = 0
      b.events.foreach { ev =>
        val ok = byEid.get(ev.id) match {
          case Some(Array(r)) => truth.seqAt(ev.key, version) match {
            case None => r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4)
            case Some(w) => !r.isNullAt(2) && r.getLong(2) == w &&
              r.getLong(3) == truth.a(ev.key, w) && r.getString(4) == truth.s(ev.key, w)
          }
          case _ => false
        }
        if (ok) latencies.add((ev.due, b.end - ev.due)) else bad += 1
      }
      ledger.time(b.events.size - bad)
      failEvents(bad, "enriched row differs from the ground truth at the batch's version")
      batches.add(BatchRec(b.batchId, b.start, b.end, version, b.traced, b.spanId, ok = true))
    }
  } catch {
    case t: Throwable =>
      failEvents(b.events.size, s"check failed: ${t.getClass.getSimpleName}: ${t.getMessage}")
      batches.add(BatchRec(b.batchId, b.start, b.end, -1L, b.traced, b.spanId, ok = false))
  }

  @volatile private var running: StreamingQuery = _

  private def startQuery(i: Int): StreamingQuery = {
    running = spark.readStream.format("reftable")
      .option("path", root(i)).option("schema", Schema)
      .option("refreshInterval", spec.refresh).option("emitMode", "trigger")
      .load()
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => onBatch(b, id))
      .option("checkpointLocation", checkpoint(i))
      .start()
    running
  }

  private def awaitBatchAfter(t: Double, q: StreamingQuery): Double = {
    val deadline = Clock.nowMs + 120000
    while (Clock.nowMs < deadline) {
      batches.asScala.filter(b => b.start >= t && b.ok).map(_.end).minOption match {
        case Some(end) => return end
        case None =>
          q.exception.foreach(ex => throw ex)
          Thread.sleep(5)
      }
    }
    sys.error("no batch completed within 120 s of set-up")
  }

  /** Open-loop event generator: event i is due at t0 + i / rate whatever the
    * system does; it is stamped with its due time, so a stall also counts
    * against the events queued behind it.
    */
  private def generator(t0: Double, stopAt: Double): Thread = new Thread("graftbench-events") {
    override def run(): Unit = {
      val rng = new java.util.SplittableRandom(args.seed * 1000003L + 17)
      var i = 0L
      val periodMs = 1000.0 / EventsPerSec
      while (true) {
        val now = Clock.nowMs
        var due = t0 + i * periodMs
        if (due >= stopAt) return
        while (due <= now) {
          val key =
            if (rng.nextDouble() < AbsentShare) spec.rows + 20000000L + rng.nextLong(1000000000L)
            else {
              val rank = math.min(spec.rows - 1, (spec.rows * math.pow(rng.nextDouble(), 3)).toLong)
              java.lang.Math.floorMod(rank * Scatter + 7, spec.rows)
            }
          queue.add(Event(i, key, due))
          generated.incrementAndGet()
          val b = backlog.incrementAndGet()
          val w = windowIndex
          if (w >= 0) {
            lags.add((due, now - due))
            backlogMax.synchronized { if (b > backlogMax(w)) backlogMax(w) = b }
          }
          i += 1
          due = t0 + i * periodMs
          if (due >= stopAt) return
        }
        Thread.sleep(1)
      }
    }
  }

  /** Single writer: commit i aims its acknowledgement at slot i of a
    * fixed schedule (a seeded phase of the refresh period plus i commit
    * periods) by starting one median commit time early, or at once when the
    * previous commit ran late. Acknowledgements then spread evenly over the
    * refresh period, so the designed wait to the next boundary averages out
    * within a run. Each commit upserts updates, inserts and the heartbeat
    * key carrying its sequence number.
    */
  private def writer(t0: Double, stopAt: Double, tableRoot: String): Thread = new Thread("graftbench-writer") {
    override def run(): Unit = {
      val phase0 = new java.util.SplittableRandom(args.seed * 7919L + 3).nextDouble()
      val firstBoundary = math.ceil(t0 / RefreshMs) * RefreshMs
      val serviceMs = mutable.ArrayBuffer(commitPeriodMs / 2)
      var seq = 1L
      while (true) {
        val slot = firstBoundary + phase0 * RefreshMs + seq * commitPeriodMs
        val due = slot - Stats.median(serviceMs.takeRight(5))
        if (slot >= stopAt) return
        Clock.sleepUntil(due)
        val rng = new java.util.SplittableRandom(args.seed * 1000033L + seq)
        val hot = (spec.rows * HotKeyShare).toLong
        val updates = Seq.fill(UpdatesPerCommit)(spec.rows - 1 - rng.nextLong(hot)).distinct
        val inserts = (0 until InsertsPerCommit).map(j => spec.rows + (seq - 1) * InsertsPerCommit + j)
        val keys = updates ++ inserts :+ truth.Heartbeat
        truth.plan(seq, keys, inserts.size)
        val src = spark.createDataFrame(
          keys.map(k => Row(k, seq, truth.a(k, seq), truth.s(k, seq))).asJava,
          StructType.fromDDL(Schema))
        val before = if (tracer.enabled) LayerFs.tree(new File(tableRoot)) else (0L, 0L)
        val start = Clock.nowMs
        ledger.attempt(1)
        try {
          if (args.faultEvery > 0 && seq % args.faultEvery == 0)
            throw new IllegalStateException("injected fault")
          val (_, threadCpu) = taskCpu.charge(s"commit-$seq") {
            tracer.span("reftable.commit", s"commit-$seq") {
              RefTableMutations.upsert(spark, tableRoot, src, Seq("k"))
            }
          }
          val ack = Clock.nowMs
          ledger.time(1)
          serviceMs += ack - start
          val spanId = tracer.lastSpanId
          val after = if (tracer.enabled) LayerFs.tree(new File(tableRoot)) else (0L, 0L)
          commits.add(CommitRec(seq, slot, start, ack, spanId,
            after._1 - before._1, after._2 - before._2, threadCpu))
        } catch {
          case t: Throwable =>
            truth.abort(seq)
            ledger.fail(1, s"commit failed: ${t.getClass.getSimpleName}: ${t.getMessage}")
        }
        seq += 1
      }
    }
  }

  def run(): Unit = {
    // set-up, repeated: publish the table, start the stream, first batch
    val setups = mutable.ArrayBuffer.empty[Double]
    var query: StreamingQuery = null
    checker.setDaemon(true)
    checker.start()
    for (i <- 1 to SetUps) {
      if (query != null) { query.stop(); query = null }
      val t0 = Clock.nowMs
      VersionedTable.publish(initialTable(), root(i))
      val ack = Clock.nowMs
      query = startQuery(i)
      val first = awaitBatchAfter(ack, query)
      setups += first - t0
      if (i > 1) deleteTree(new File(root(i - 1)))
    }
    val tableRoot = root(SetUps)
    out.notes("setup_s_each") = setups.map(s => f"${s / 1000}%.3f").mkString(",")

    val windows = if (args.trace) Seq(false, true) else Seq(false)
    val genStart = Clock.nowMs
    val windowStarts = windows.indices.map(w => genStart + WarmUpMs + w * (args.seconds * 1000.0 + 1000.0))
    val windowEnds = windowStarts.map(_ + args.seconds * 1000.0)
    val gen = generator(genStart, windowEnds.last)
    gen.setDaemon(true)
    val wr = writer(genStart, windowEnds.last, tableRoot)
    wr.setDaemon(true)
    Seq(gen, checker, wr).foreach(t => ownThreads.add(t.getId))
    gen.start()
    wr.start()

    val gc0 = mutable.ArrayBuffer.empty[Long]
    windows.indices.foreach { w =>
      Clock.sleepUntil(windowStarts(w) - 500)
      if (windows(w)) tracer.enable()
      Clock.sleepUntil(windowStarts(w))
      windowIndex = w
      holdChecks = true
      gc0 += Jvm.gcMs
      Clock.sleepUntil(windowEnds(w))
      gc0 += Jvm.gcMs
      holdChecks = false
      windowIndex = -1
    }
    gen.join()
    wr.join()

    // drain: every generated event must come back enriched, and every
    // commit must become visible
    val lastCommit = commits.asScala.map(_.seq).maxOption
    val deadline = Clock.nowMs + DrainTimeoutMs
    def drained = queue.isEmpty &&
      batches.asScala.exists(b => b.start > windowEnds.last) &&
      lastCommit.forall(s => batches.asScala.exists(_.version >= s))
    while (!drained && Clock.nowMs < deadline) {
      query.exception.foreach(ex => throw ex)
      Thread.sleep(20)
    }
    query.stop()
    toCheck.put(None)
    checker.join()
    ledger.attempt(generated.get)
    ledger.fail(generated.get - latencies.size - eventsFailed.get, "event never enriched")
    lastCommit.filterNot(s => batches.asScala.exists(_.version >= s))
      .foreach(_ => ledger.fail(1, "last commit never became visible"))

    tracer.settle()
    // the stopped query's last plan pins the last batch's broadcast
    query = null
    running = null
    val heapMb = Jvm.retainedHeapMb

    val done = batches.asScala.toSeq.sortBy(_.end)
    def windowOf(t: Double) = windows.indices.find(w => t >= windowStarts(w) && t < windowEnds(w))
    def freshnessOf(c: CommitRec): Option[(CommitRec, Double)] =
      done.find(b => b.ok && b.version >= c.seq).map(b => (c, math.max(0.0, b.end - c.ack)))
    val report = windows.indices.map { w =>
      val lat = latencies.asScala.filter { case (due, _) => windowOf(due).contains(w) }.map(_._2).toSeq
      val wb = done.filter(b => b.ok && b.start >= windowStarts(w) && b.end < windowEnds(w))
      // snapshot rows served per second of batch time: from the first
      // window batch's start to the last one's end
      val rowsPerS = if (wb.isEmpty) Double.NaN else
        wb.map(b => truth.liveRows(b.version).toDouble).sum / ((wb.last.end - wb.head.start) / 1000.0)
      val wc = commits.asScala.filter(c => windowOf(c.slot).contains(w)).toSeq
      val commitMs = wc.map(c => c.ack - c.start)
      val fresh = wc.flatMap(freshnessOf)
      (lat, wb, rowsPerS, wc, commitMs, fresh)
    }

    // CPU per trigger: the triggers run back to back, so a batch's
    // callback start and the next one's bound one trigger. The Java
    // threads' CPU in between counts, less the benchmark's own threads
    // (generator, writer, checker) and the writer's Spark tasks. Only
    // triggers whose batch succeeded count
    val okIds = done.filter(_.ok).map(_.batchId).toSet
    def batchCpu(w: Int): Seq[Double] = {
      val at = cpuAt.asScala.toSeq.sortBy(_._1)
      at.zip(at.drop(1)).collect {
        case ((id, a), (next, b)) if next == id + 1 && okIds(id) &&
            a.t >= windowStarts(w) && a.t < windowEnds(w) =>
          Jvm.cpuBetween(a.threads, b.threads, ownThreads.asScala.toSet) -
            taskCpu.msBetween("commit-", a.t, b.t)
      }
    }
    // a commit's CPU: its calling thread's and its Spark tasks'
    def commitCpu(c: CommitRec) = c.threadCpuMs + taskCpu.ms(s"commit-${c.seq}")

    val (lat0, _, rows0, wc0, commit0, _) = report.head
    val cpu0 = batchCpu(0)
    val setupMed = Stats.median(setups) / 1000.0
    out.notes("events_timed") = lat0.size.toString
    out.notes("commits_timed") = commit0.size.toString
    out.notes("batches_cpu_timed") = cpu0.size.toString
    out.notes("commit_cpu_ms_each") = wc0.map(c => f"${c.threadCpuMs}%.0f+${taskCpu.ms(s"commit-${c.seq}")}%.0f").mkString(",")
    out.notes("wall_latency_p50_ms") = f"${Stats.pct(lat0, 50)}%.0f"
    out.endToEnd("setup_s") = (setupMed, "s")
    out.endToEnd("op_cpu_ms") = (Stats.mean(cpu0), "ms")
    out.endToEnd("commit_cpu_ms") = (Stats.median(wc0.map(commitCpu)), "ms")
    out.endToEnd("retained_heap_mb") = (heapMb, "MiB")

    if (args.trace) {
      val (lat1, wb1, _, wc1, commit1, fresh1) = report(1)
      val traced = wb1.filter(_.traced)
      layerMetrics(traced, wc1, commit1, fresh1, tableRoot, w = 1)
      val fresh = fresh1.map(_._2)
      out.perLayer("freshness_p50_ms") = (Stats.pct(fresh, 50), "ms")
      out.perLayer("freshness_p90_ms") = (Stats.pct(fresh, 90), "ms")
      // wall-clock figures of the untraced window
      out.perLayer("latency_p50_ms") = (Stats.pct(lat0, 50), "ms")
      out.perLayer("latency_p90_ms") = (Stats.pct(lat0, 90), "ms")
      out.perLayer("rows_per_s") = (rows0, "1/s")
      out.perLayer("commit_p50_ms") = (Stats.pct(commit0, 50), "ms")
      out.perLayer("latency_p99_ms") = (Stats.pct(lat0, 99), "ms")
      out.perLayer("trace.overhead_ms") = (Stats.pct(lat1, 50) - Stats.pct(lat0, 50), "ms")
      out.perLayer("jvm.gc_ms") = ((gc0(3) - gc0(2)).toDouble, "ms")
      out.perLayer("error_rate") = (ledger.failed.toDouble / math.max(1L, ledger.attempted), "ratio")
    }
    deleteTree(new File(tableRoot))
  }

  private def layerMetrics(wb: Seq[BatchRec], wc: Seq[CommitRec], commitMs: Seq[Double],
      fresh: Seq[(CommitRec, Double)], tableRoot: String, w: Int): Unit = {
    val spansById = tracer.allSpans.map(s => s.id -> s).toMap
    val trigById = tracer.allTriggers.map(t => t.batchId -> t).toMap
    val allTrig = tracer.allTriggers
    val ids = wb.map(_.batchId).toSet
    val trigs = allTrig.filter(t => ids.contains(t.batchId))
    def m(xs: Seq[Double]) = Stats.mean(xs)
    // split each trigger's phases into layers. reftable.read is the wall
    // time of the stages scanning the snapshot, less the share of their
    // task time spent writing the join's shuffle. exec is query planning
    // plus the rest of addBatch: the sink planning the batch, then the
    // callback's Spark work, jobs and driver gap alike. What stays
    // unattributed is the callback's own work outside its exec span
    // (collecting events, building the probe) and trigger time outside
    // the reported phases
    val perBatch = wb.flatMap { b =>
      for (t <- trigById.get(b.batchId); s <- spansById.get(b.spanId)) yield {
        val jobs = tracer.jobsOf(s)
        val stages = tracer.stagesOf(jobs)
        val scans = stages.filter(_.scan)
        require(jobs.nonEmpty && scans.nonEmpty,
          s"batch ${b.batchId}: no Spark job or snapshot scan attributed to its span")
        val scanTask = scans.map(_.taskRunMs.toDouble).sum
        val readShare = if (scanTask <= 0) 1.0 else scans.map(st => st.taskRunMs * st.nonShuffleShare).sum / scanTask
        val read = readShare * Intervals.unionMs(scans.map(st => (st.submit.toDouble, st.complete.toDouble)))
        require(callbackMs.containsKey(b.batchId), s"batch ${b.batchId}: callback time missing")
        BatchSplit(t, jobs, stages, scans,
          source = (t.d("latestOffset") + t.d("getOffset") + t.d("getBatch") + t.d("setOffsetRange")).toDouble,
          read = read,
          exec = t.d("queryPlanning") + t.d("addBatch") - read - (callbackMs.get(b.batchId) - s.ms),
          checkpoint = (t.d("walCommit") + t.d("commitOffsets")).toDouble,
          jobWall = Intervals.unionMs(jobs.map(j => (j.start.toDouble, j.end.toDouble))))
      }
    }
    require(perBatch.nonEmpty, "no traced batch had both a trigger report and a span")
    val walls = perBatch.map(_.trigger.wall.toDouble)
    out.perLayer("batch.wall_ms") = (m(walls), "ms")
    out.perLayer("self.source_ms") = (m(perBatch.map(_.source)), "ms")
    out.perLayer("self.read_ms") = (m(perBatch.map(_.read)), "ms")
    out.perLayer("self.exec_ms") = (m(perBatch.map(_.exec)), "ms")
    out.perLayer("self.checkpoint_ms") = (m(perBatch.map(_.checkpoint)), "ms")
    out.perLayer("self.unattributed_ms") = (m(perBatch.map(_.unattributed)), "ms")
    out.perLayer("self.attributed_share") =
      (perBatch.map(p => p.trigger.wall - p.unattributed).sum / walls.sum, "ratio")

    // reftable.source
    val prevGen = allTrig.map(t => t.batchId -> t.generation).toMap
    // latestOffset time per batch, split by whether the trigger saw a new
    // refresh generation; per batch, not per trigger of each kind, because
    // when every batch outlasts the refresh interval no trigger is steady
    val (refreshT, steadyT) = trigs.partition(t => prevGen.get(t.batchId - 1).exists(_ != t.generation))
    def offsetPerBatch(ts: Seq[TriggerRec]) = ts.map(_.d("latestOffset").toDouble).sum / trigs.size
    out.perLayer("source.steady_latest_offset_ms") = (offsetPerBatch(steadyT), "ms")
    out.perLayer("source.refresh_latest_offset_ms") = (offsetPerBatch(refreshT), "ms")
    val lastT = trigs.last
    require(lastT.snapshotFiles > 0 && lastT.snapshotBytes > 0, "the source reported no snapshot metrics")
    out.perLayer("source.snapshot_files") = (lastT.snapshotFiles.toDouble, "count")
    out.perLayer("source.snapshot_bytes") = (lastT.snapshotBytes.toDouble, "B")
    out.perLayer("source.generations") = (trigs.map(_.generation).distinct.size.toDouble, "count")
    // freshness minus the designed wait from the ack to the next boundary
    val b2v = fresh.map { case (c, f) => f - (math.ceil(c.ack / RefreshMs) * RefreshMs - c.ack) }
    out.perLayer("refresh.boundary_to_visible_ms") = (Stats.median(b2v), "ms")

    // reftable.read
    val readBytes = perBatch.map { p =>
      val b = Option(scanBytes.get(p.trigger.batchId)).map(_.toDouble).getOrElse(0.0)
      require(b > 0, s"batch ${p.trigger.batchId}: no scan bytes read from its plan")
      b
    }
    out.perLayer("read.scan_task_ms_per_batch") =
      (m(perBatch.map(_.scans.map(st => st.taskRunMs * st.nonShuffleShare).sum)), "ms")
    out.perLayer("read.bytes_per_batch") = (m(readBytes), "B")
    out.perLayer("read.reread_ratio") = (m(readBytes) / lastT.snapshotBytes, "ratio")

    // exec
    out.perLayer("exec.add_batch_ms") = (m(trigs.map(_.d("addBatch").toDouble)), "ms")
    out.perLayer("exec.query_planning_ms") = (m(trigs.map(_.d("queryPlanning").toDouble)), "ms")
    out.perLayer("exec.jobs_per_batch") = (m(perBatch.map(_.jobs.size.toDouble)), "count")
    out.perLayer("exec.tasks_per_batch") = (m(perBatch.map(_.stages.map(_.tasks).sum.toDouble)), "count")
    out.perLayer("exec.shuffle_bytes_per_batch") =
      (m(perBatch.map(_.stages.map(_.shuffleWriteBytes).sum.toDouble)), "B")
    out.perLayer("exec.driver_gap_ms_per_batch") = (m(perBatch.map(p => p.trigger.wall - p.jobWall)), "ms")

    // checkpoint
    out.perLayer("checkpoint.wal_commit_ms") = (m(trigs.map(_.d("walCommit").toDouble)), "ms")
    out.perLayer("checkpoint.commit_offsets_ms") = (m(trigs.map(_.d("commitOffsets").toDouble)), "ms")

    // reftable.commit
    val commitSpans = wc.flatMap(c => spansById.get(c.spanId))
    val commitJobs = commitSpans.map(s => (s, tracer.jobsOf(s)))
    require(commitJobs.forall(_._2.nonEmpty), "a commit span has no Spark job attributed to it")
    val jobMs = commitJobs.map { case (s, js) =>
      Intervals.coveredMs(js.map(j => (j.start.toDouble, j.end.toDouble)), s.start, s.end) }
    out.perLayer("commit.job_ms") = (m(jobMs), "ms")
    out.perLayer("commit.driver_gap_ms") = (m(commitSpans.zip(jobMs).map { case (s, j) => s.ms - j }), "ms")
    out.perLayer("commit.jobs") = (m(commitJobs.map(_._2.size.toDouble)), "count")
    out.perLayer("commit.files_written") = (m(wc.map(_.filesWritten.toDouble)), "count")
    out.perLayer("commit.bytes_written") = (m(wc.map(_.bytesWritten.toDouble)), "B")
    out.perLayer("commit.p90_ms") = (Stats.pct(commitMs, 90), "ms")
    LayerFs.tableMetrics(tableRoot, out)

    // generator
    val wl = lags.asScala.filter(_._1 >= wb.headOption.map(_.start).getOrElse(0.0)).map(_._2).toSeq
    out.perLayer("gen.lag_ms") = (Stats.pct(wl, 99), "ms")
    out.perLayer("gen.backlog_max") = (backlogMax(w).toDouble, "count")
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
