package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Options of one run; see `run.py` for the command line the benchmark
  * exposes. `faultEvery` > 0 makes every n-th operation throw (self-test
  * only: it proves a thrown operation is counted failed, never timed).
  */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: File, faultEvery: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work-dir")),
      m.get("fault-every").map(_.toInt).getOrElse(0))
  }
}

/** The operation ledger of one run: every operation a workload attempts is
  * counted here, and every failed, wrong or missing one is counted failed.
  * Failed operations never contribute a timing sample: `timed` counts the
  * operations that did, so in a run whose only failures are thrown
  * operations, timed + failed = attempted.
  */
final class Ledger {
  private var attempted0 = 0L
  private var failed0 = 0L
  private var timed0 = 0L
  private val reasons = mutable.LinkedHashMap.empty[String, Long]

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)
  def timed: Long = synchronized(timed0)
  def attempt(n: Long): Unit = synchronized { attempted0 += n }
  def time(n: Long): Unit = synchronized { timed0 += n }
  def fail(n: Long, why: String): Unit = synchronized {
    if (n > 0) {
      failed0 += n
      reasons(why) = reasons.getOrElse(why, 0L) + n
    }
  }
  def reasonSummary: String = synchronized {
    reasons.take(8).map { case (w, n) => s"$n x $w" }.mkString("; ")
  }
}

/** Results of one run: end-to-end metrics always, per-layer metrics only in a
  * traced run.
  */
final class Outcome(val ledger: Ledger) {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
}

object Stats {
  /** Linear-interpolated percentile (p in [0, 100]) of `xs`; NaN when empty. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  /** Arithmetic mean; NaN when empty. */
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

/** Wall clock in epoch milliseconds at nanosecond resolution, comparable
  * with the epoch-millisecond times Spark's listener events carry.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def sleepUntil(tMs: Double): Unit = {
    val d = tMs - nowMs
    if (d > 0) Thread.sleep(d.toLong, ((d - d.toLong) * 1e6).toInt)
  }
}

/** CPU time, the timing the end-to-end metrics use. The kernel charges a
  * thread only for the time it ran on a core: time the hypervisor stole from
  * the machine, or another process held the core, is not counted, so on a
  * shared host CPU time measures the program's own work where wall time
  * also measures its neighbours. Only Java threads are read: the JVM's JIT
  * compiler and GC threads work when the JVM decides to compile or
  * collect, which varies from run to run for the same program.
  */
object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of the calling thread so far. */
  def threadCpuMs: Double = threads.getCurrentThreadCpuTime / 1e6

  /** CPU time so far of every live Java thread, by thread id. */
  def threadsCpuMs(): Map[Long, Double] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).collect { case (i, c) if c >= 0 => i -> c / 1e6 }.toMap
  }

  /** CPU time Java threads spent between two readings, leaving out the
    * threads in `skip`; a thread that started in between counts whole.
    */
  def cpuBetween(a: Map[Long, Double], b: Map[Long, Double], skip: Set[Long] = Set.empty): Double =
    b.iterator.collect { case (id, c) if !skip(id) => c - a.getOrElse(id, 0.0) }.sum

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after a full collection, in MiB. */
  def retainedHeapMb: Double = {
    // Spark releases cached blocks and broadcasts from a cleaner thread once
    // a collection has found them unreachable: collect until that settles
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Executor CPU time of every Spark task, with its finish time and the
  * value of the local property [[TaskCpu.Key]] on the thread that submitted
  * its job ("" when unset). Always on: a commit's tasks run on the same
  * executor threads as the stream's.
  */
final class TaskCpu(spark: SparkSession) {
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Double)]()
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(TaskCpu.Key)))
        .foreach(op => e.stageIds.foreach(stageOp.put(_, op)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m =>
        tasks.add((Option(stageOp.get(e.stageId)).getOrElse(""), e.taskInfo.finishTime,
          (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e6)))
  })

  /** Runs `f` on this thread with its jobs' tasks charged to `op`; returns
    * its result and the CPU time this thread spent in it.
    */
  def charge[T](op: String)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(TaskCpu.Key)
    sc.setLocalProperty(TaskCpu.Key, op)
    val c0 = Jvm.threadCpuMs
    try (f, Jvm.threadCpuMs - c0)
    finally sc.setLocalProperty(TaskCpu.Key, outer)
  }

  /** Task CPU charged to `op`. Task ends reach the listener asynchronously:
    * read this after the work has settled.
    */
  def ms(op: String): Double = tasks.asScala.collect { case (o, _, c) if o == op => c }.sum
  /** Task CPU charged to any op with the prefix ("" for every task), of
    * tasks that finished in (lo, hi].
    */
  def msBetween(prefix: String, lo: Double, hi: Double): Double =
    tasks.asScala.collect { case (o, t, c) if o.startsWith(prefix) && t > lo && t <= hi => c }.sum
}

object TaskCpu {
  val Key = "graftbench.op"
}

/** Every per-layer metric a traced run reports, with its unit, grouped by
  * the part of the system that produces it.
  */
object Layers {
  /** The streaming trigger and its layers: source, read, exec, checkpoint. */
  val stream: Seq[(String, String)] = Seq(
    // one trigger split into layer self times
    "batch.wall_ms" -> "ms", "self.source_ms" -> "ms", "self.read_ms" -> "ms",
    "self.exec_ms" -> "ms", "self.checkpoint_ms" -> "ms", "self.unattributed_ms" -> "ms",
    "self.attributed_share" -> "ratio",
    // reftable.source
    "source.steady_latest_offset_ms" -> "ms", "source.snapshot_files" -> "count",
    "source.snapshot_bytes" -> "B", "source.generations" -> "count",
    // reftable.read
    "read.scan_task_ms_per_batch" -> "ms", "read.bytes_per_batch" -> "B",
    "read.reread_ratio" -> "ratio",
    // exec
    "exec.add_batch_ms" -> "ms", "exec.query_planning_ms" -> "ms",
    "exec.jobs_per_batch" -> "count", "exec.tasks_per_batch" -> "count",
    "exec.shuffle_bytes_per_batch" -> "B", "exec.driver_gap_ms_per_batch" -> "ms",
    // checkpoint
    "checkpoint.wal_commit_ms" -> "ms", "checkpoint.commit_offsets_ms" -> "ms",
    // the open-loop event generator
    "gen.lag_ms" -> "ms", "gen.backlog_max" -> "count")
  /** Refresh of the snapshot while the stream runs. */
  val refresh: Seq[(String, String)] = Seq(
    "source.refresh_latest_offset_ms" -> "ms", "refresh.boundary_to_visible_ms" -> "ms")
  /** reftable.commit */
  val commit: Seq[(String, String)] = Seq(
    "commit.job_ms" -> "ms", "commit.driver_gap_ms" -> "ms", "commit.jobs" -> "count",
    "commit.files_written" -> "count", "commit.bytes_written" -> "B",
    "commit.versions_retained" -> "count", "commit.space_amp" -> "ratio", "commit.p90_ms" -> "ms")
  /** operators */
  val operators: Seq[(String, String)] = Seq(
    "op.near_dup_ms" -> "ms", "op.near_dup_job_ms" -> "ms", "op.near_dup_gap_ms" -> "ms",
    "op.ivf_admit_ms" -> "ms", "op.ivf_admit_job_ms" -> "ms", "op.ivf_admit_gap_ms" -> "ms",
    "op.tokenize_pack_ms" -> "ms", "op.tokenize_pack_job_ms" -> "ms",
    "op.tokenize_pack_gap_ms" -> "ms", "op.near_dup_pairs" -> "count",
    "exec.shuffle_bytes_per_wave" -> "B")
  /** Every workload: wall-clock latency, throughput and commit time of the
    * untraced window, freshness of its writes, the tail, GC, the trace
    * itself.
    */
  val common: Seq[(String, String)] = Seq(
    "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms", "rows_per_s" -> "1/s",
    "commit_p50_ms" -> "ms",
    "freshness_p50_ms" -> "ms", "freshness_p90_ms" -> "ms", "latency_p99_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "trace.overhead_ms" -> "ms", "error_rate" -> "ratio")

  val all: Seq[(String, String)] = stream ++ refresh ++ commit ++ operators ++ common

  /** Metrics a workload cannot produce because it bypasses their layer. */
  val bypassed: Map[String, Set[String]] = Map(
    "refresh_under_writes" -> operators.map(_._1).toSet,
    "curation_admission" -> (stream ++ refresh).map(_._1).toSet)

  /** Reports a bypassed layer's metrics as 0 (no work done) and fails the
    * run when a layer the workload loads left a metric without samples: a
    * tracer that stops attributing must not read as a perfect score.
    */
  def complete(workload: String, out: Outcome): Unit = {
    val unknown = out.perLayer.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from Layers.all: ${unknown.mkString(", ")}")
    val skip = bypassed(workload)
    val filled = all.map { case (k, u) =>
      if (skip(k)) {
        require(!out.perLayer.contains(k), s"$workload measured $k of a layer it bypasses")
        k -> (0.0, u)
      } else {
        val v = out.perLayer.getOrElse(k, sys.error(s"traced $workload run produced no $k"))
        require(!v._1.isNaN && !v._1.isInfinite, s"traced $workload run has no samples for $k")
        k -> v
      }
    }
    out.perLayer.clear()
    out.perLayer ++= filled
  }
}

object Main {
  val Workloads = Seq("refresh_under_writes", "curation_admission")

  def session(args: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(args.workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(args.workDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.streaming.StreamDefaults.ensure(s)
    s
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metricsJson(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"""${jsonStr(k)}:{"value":${num(v)},"unit":${jsonStr(u)}}""" }
      .mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    require(Workloads.contains(args.workload),
      s"unknown workload ${args.workload}; expected one of ${Workloads.mkString(", ")}")
    args.workDir.mkdirs()
    val spark = session(args)
    val ledger = new Ledger
    val out = new Outcome(ledger)
    out.notes("jvm_to_session_s") = f"${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2f"
    val tracer = new Tracer(spark)
    val taskCpu = new TaskCpu(spark)
    var crashed: Option[Throwable] = None
    try {
      args.workload match {
        case "refresh_under_writes" => new LookupWorkload(spark, args, tracer, taskCpu, out, LookupWorkload.Refresh).run()
        case "curation_admission" => new AdmissionWorkload(spark, args, tracer, taskCpu, out).run()
      }
      if (args.trace) {
        Layers.complete(args.workload, out)
        tracer.writeSpans(new File(args.workDir, s"spans-${args.workload}-seed${args.seed}.json"))
      }
    } catch {
      case t: Throwable => crashed = Some(t); t.printStackTrace()
    }
    out.notes("jvm_to_results_s") = f"${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2f"
    val ok = crashed.isEmpty
    val correct = ok && ledger.failed == 0 && ledger.attempted > 0
    System.err.println(s"graftbench: workload=${args.workload} seed=${args.seed} " +
      s"seconds=${args.seconds} trace=${if (args.trace) 1 else 0} attempted=${ledger.attempted} " +
      s"failed=${ledger.failed} error_rate=${if (ledger.attempted > 0)
        ledger.failed.toDouble / ledger.attempted else 0.0}" +
      (if (ledger.failed > 0) s" reasons=[${ledger.reasonSummary}]" else ""))
    out.notes.foreach { case (k, v) => System.err.println(s"graftbench: $k=$v") }
    (out.endToEnd ++ out.perLayer).foreach { case (k, (v, u)) =>
      System.err.println(f"graftbench: $k%-36s ${num(v)} $u") }
    if (ok) {
      // the run record carries the seed and both metric sets; run.py
      // checks it and prints the one-line result for the traced or
      // untraced mode
      println("GRAFTBENCH_RESULT " +
        s"""{"workload":${jsonStr(args.workload)},"seed":${args.seed},"trace":${args.trace},""" +
        s""""correct":$correct,"attempted":${ledger.attempted},"failed":${ledger.failed},"timed":${ledger.timed},""" +
        s""""end_to_end":${metricsJson(out.endToEnd)},"per_layer":${metricsJson(out.perLayer)},""" +
        s""""notes":${out.notes.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}")}}""")
    }
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
    System.exit(if (ok) 0 else 1)
  }
}
