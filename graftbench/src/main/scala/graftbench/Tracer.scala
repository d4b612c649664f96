package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span the benchmark recorded around one call into a layer. Times are
  * epoch milliseconds. `parent` is the enclosing span on the same thread,
  * 0 for a root span.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** One Spark job, attributed to the span whose job group it ran under. */
final case class JobRec(id: Int, group: String, start: Long, end: Long, stageIds: Seq[Int])

/** One completed stage attempt with its summed task metrics. `scan` marks a
  * stage that read a reftable snapshot.
  */
final case class StageRec(id: Int, submit: Long, complete: Long, tasks: Int,
    taskRunMs: Long, shuffleWriteBytes: Long, shuffleWriteMs: Double, scan: Boolean) {
  /** Share of the stage's task time not spent writing its shuffle output. */
  def nonShuffleShare: Double =
    if (taskRunMs <= 0) 1.0 else math.max(0.0, 1.0 - shuffleWriteMs / taskRunMs)
}

/** One micro-batch trigger as the streaming engine reported it. */
final case class TriggerRec(batchId: Long, start: Long, durations: Map[String, Long],
    generation: Long, snapshotFiles: Long, snapshotBytes: Long) {
  def wall: Long = durations.getOrElse("triggerExecution", 0L)
  def d(k: String): Long = durations.getOrElse(k, 0L)
}

/** Tracing built from the benchmark's own side of the API only: spans around
  * each call the benchmark makes, child job intervals from a SparkListener
  * (keyed by the job group each span sets on its thread), per-trigger
  * durations from a StreamingQueryListener. Everything is kept in memory and
  * written out once at the end. When disabled, no listener is registered and
  * [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession) {
  private val GroupKey = "spark.jobGroup.id"
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStarts = new ConcurrentHashMap[Int, JobRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val triggers = new ConcurrentLinkedQueue[TriggerRec]()

  @volatile private var on = false
  private val last = new ThreadLocal[java.lang.Long]
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def enabled: Boolean = on

  /** Registers the listeners; spans are recorded from here on. */
  def enable(): Unit = synchronized { if (!on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("")
        jobStarts.put(e.jobId, JobRec(e.jobId, g, e.time, -1L, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val m = s.taskMetrics
        val scan = s.rddInfos.exists(r => r.name.contains("Scan") ||
          r.scope.exists(_.name.contains("Scan")))
        stages.add(StageRec(s.stageId, s.submissionTime.getOrElse(0L),
          s.completionTime.getOrElse(0L), s.numTasks,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0.0 else m.shuffleWriteMetrics.writeTime / 1e6, scan))
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val src = p.sources.headOption.map(_.metrics.asScala.toMap).getOrElse(Map.empty)
        def l(k: String) = src.get(k).flatMap(_.toLongOption).getOrElse(-1L)
        triggers.add(TriggerRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          l("generation"), l("snapshotFiles"), l("snapshotBytes")))
      }
    })
    on = true
  } }

  /** Run `f` as a span of `layer`, a child of the span open on this
    * thread. While it runs, Spark jobs submitted from this thread carry the
    * span id as their job group.
    */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) { last.set(0L); f }
    else {
      val id = nextId.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0L)
      open.set(id :: open.get)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, s"span-$id")
      val t0 = Clock.nowMs
      try f
      finally {
        val t1 = Clock.nowMs
        sc.setLocalProperty(GroupKey, prev)
        open.set(open.get.tail)
        spans.add(Span(id, parent, layer, name, t0, t1))
        last.set(id)
      }
    }

  /** Id of the span this thread finished last; 0 when tracing was off. */
  def lastSpanId: Long = Option(last.get()).map(_.longValue).getOrElse(0L)

  /** Waits for the listener bus to deliver pending job and progress events. */
  def settle(): Unit = if (on) {
    val deadline = System.currentTimeMillis() + 5000
    Thread.sleep(300)
    while (!jobStarts.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
  def allJobs: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.start)
  def allStages: Seq[StageRec] = stages.asScala.toSeq
  def allTriggers: Seq[TriggerRec] = triggers.asScala.toSeq.sortBy(_.batchId)
  def jobsOf(s: Span): Seq[JobRec] = allJobs.filter(_.group == s"span-${s.id}")
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.flatMap(_.stageIds).toSet
    allStages.filter(st => ids.contains(st.id))
  }

  /** A span's duration minus the part its child spans and its jobs cover. */
  def selfMs(s: Span): Double = {
    val children = allSpans.filter(_.parent == s.id).map(c => (c.start, c.end)) ++
      jobsOf(s).map(j => (j.start.toDouble, j.end.toDouble))
    s.ms - Intervals.coveredMs(children, s.start, s.end)
  }

  def writeSpans(f: File): Unit = if (on) {
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("{\"spans\":[")
      w.println(allSpans.map(s =>
        f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f,"self_ms":${selfMs(s)}%.3f}""")
        .mkString(",\n"))
      w.println("],\"jobs\":[")
      w.println(allJobs.map(j =>
        s"""{"id":${j.id},"group":"${j.group}","start":${j.start},"end":${j.end},"stages":[${j.stageIds.mkString(",")}]}""")
        .mkString(",\n"))
      w.println("],\"stages\":[")
      w.println(allStages.map(s =>
        s"""{"id":${s.id},"submit":${s.submit},"complete":${s.complete},"tasks":${s.tasks},"task_run_ms":${s.taskRunMs},"shuffle_write_bytes":${s.shuffleWriteBytes},"shuffle_write_ms":${s.shuffleWriteMs},"scan":${s.scan}}""")
        .mkString(",\n"))
      w.println("],\"triggers\":[")
      w.println(allTriggers.map(t =>
        s"""{"batch":${t.batchId},"start":${t.start},"generation":${t.generation},"durations":{${t.durations.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}""")
        .mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }
}

object Intervals {
  /** Total length of the union of [start, end] intervals. */
  def unionMs(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of the union of `xs` clipped to [lo, hi]. */
  def coveredMs(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    unionMs(xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
}

/** Metrics Spark kept on the executed physical plan of a query. */
object Plans {
  import org.apache.spark.sql.execution.SparkPlan

  /** Sum of the SQL metric `name` over every node of `plan`. */
  def metricSum(plan: SparkPlan, name: String): Long =
    plan.collect { case n => n.metrics.get(name).map(_.value).getOrElse(0L) }.sum

  /** The executed plan of the micro-batch `q` is running now. A
    * foreachBatch body sees its batch as a pre-planned RDD, so the source's
    * scan node and its metrics live only in this plan.
    */
  def currentBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery): SparkPlan =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
}

/** Storage-side measurements of a table root, taken by listing it. */
object LayerFs {
  /** Regular files under `dir` and their total bytes. */
  def tree(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else {
      val fs = java.nio.file.Files.walk(dir.toPath)
      try {
        val files = fs.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
        (files.size.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
      } finally fs.close()
    }

  /** Versions retained under a versioned root, and its space amplification:
    * all bytes under the root over the bytes of the current snapshot's files.
    */
  def tableMetrics(root: String, out: Outcome): Unit = {
    val versions = Option(new File(root).listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.matches("v\\d{19}_[0-9a-f]{8}"))
    out.perLayer("commit.versions_retained") = (versions.toDouble, "count")
    val live = graft.sources.reftable.SnapshotFiles.list(root).map(_.length).sum.toDouble
    out.perLayer("commit.space_amp") = (tree(new File(root))._2 / math.max(1.0, live), "ratio")
  }
}
