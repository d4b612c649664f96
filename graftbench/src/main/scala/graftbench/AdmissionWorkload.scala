package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{Curation, Dedup, IvfIndex, TextAnalysis}
import graft.sources.reftable.{RefTableOptions, RefTableWrites, VersionedTable}

/** `curation_admission`: a closed loop of admission waves over a seeded
  * synthetic corpus with planted near-duplicate texts and vectors. Each wave
  * runs, in order: lexical near-dup admission against the pinned corpus
  * (`Dedup.nearDupAgainst`), semantic admission against an IVF index built
  * in set-up (`IvfIndex.admitAgainst`), an append of the survivors
  * (`RefTableWrites.appendVersion`) read back by a fresh reader, and BPE
  * encoding plus shard packing of the survivors (`TextAnalysis.bpeEncode`,
  * `Curation.packShards`). It bypasses the streaming source entirely.
  */
object AdmissionWorkload {
  final case class Env(corpusDf: DataFrame, indexRoot: String, admittedRoot: String,
      merges: Seq[(String, String)])

  /** One completed wave, with its calling thread's CPU time over the wave
    * and over the append; `c0` and `ack` bound the append.
    */
  final case class WaveRec(w: Int, start: Double, end: Double, commitMs: Double,
      freshMs: Double, admitted: Int, pairs: Long, traced: Boolean, spanIds: Map[String, Long],
      filesWritten: Long, bytesWritten: Long, threadCpuMs: Double, c0: Double, ack: Double,
      appendThreadCpuMs: Double)

  // Sizes follow the catalog's admission loops at sf0.1 (q208 lexical,
  // q222 semantic) and a 1k-row append per wave; see README.md.
  /** The 2,000 embeddings q222 indexes. */
  val CorpusDocs = 2000
  /** 22% planted copies, as in q208's and q222's second waves, leave about
    * 1,000 survivors to append.
    */
  val WaveDocs = 1280
  val PlantedTextShare = 0.11
  val PlantedVecShare = 0.11
  /** The mean length of the catalog's documents. */
  val WordsPerDoc = 55
  /** Wide enough that two unplanted documents never pass as near copies. */
  val Vocabulary = 3000
  /** The catalog's embedding width, IVF cells and near-duplicate cosine. */
  val Dim = 64
  val Cells = 16
  val VecThreshold = 0.95
  /** The catalog's embeddings fall into labelled classes; here 8, so that
    * the 16 cells give every class exactly two centroids. Around its centre
    * a class spreads so that two members sit near cosine 0.8: far below the
    * threshold, and far above any other class's centroid, so an IVF probe
    * of 2 cells reaches both cells of a document's class, which hold the
    * planted copy's original. The corpus deals its documents to the
    * classes in turn, so each probe covers the same 250 candidates and a
    * wave does the same work whatever the seed.
    */
  val Classes = 8
  val ClassSpread = 0.5
  /** q222's plant: the first component moved by 0.05. */
  val VecNudge = 0.05
  /** The catalog's BPE merges and shard budget. */
  val Merges = 30
  val ShardBudget = 4096L
  val SetUps = 3
  val WarmUpWaves = 2

  val DocSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))
  val AdmittedDdl = "id BIGINT, text STRING"
}

/** One generated document and why it should or should not be admitted. */
final case class Doc(id: Long, text: String, vec: Array[Double], plantedText: Boolean,
    plantedVec: Boolean)

final class AdmissionWorkload(spark: SparkSession, args: Args, tracer: Tracer, taskCpu: TaskCpu,
    out: Outcome) {
  import AdmissionWorkload._

  private val ledger = out.ledger

  private def word(i: Int): String = {
    // distinct, letters only, 3-6 characters: a bijective base-26 numeral
    val sb = new StringBuilder
    var n = i + 26 * 26
    while (n > 0) { sb.append(('a' + n % 26).toChar); n = n / 26 }
    sb.toString
  }
  private val words = (0 until Vocabulary).map(word).toArray

  private def randomText(rng: java.util.SplittableRandom): Array[String] =
    Array.fill(WordsPerDoc)(words(rng.nextInt(Vocabulary)))

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  private val centres = {
    val rng = new java.util.SplittableRandom(args.seed * 7907L + 13)
    Array.fill(Classes)(unit(Array.fill(Dim)(rng.nextGaussian())))
  }

  /** A vector of class `c`: its centre plus noise of norm about ClassSpread. */
  private def randomVec(rng: java.util.SplittableRandom, c: Int): Array[Double] =
    unit(centres(c).map(x => x + ClassSpread * rng.nextGaussian() / math.sqrt(Dim)))

  private val corpusRng = new java.util.SplittableRandom(args.seed * 31337L + 5)
  // the first Cells documents seed the IVF centroids: every class gets two
  private val corpus: IndexedSeq[Doc] = (0 until CorpusDocs).map { i =>
    val c = i % Classes
    Doc(i.toLong, randomText(corpusRng).mkString(" "), randomVec(corpusRng, c), false, false)
  }

  /** Wave `w`: near-copies of corpus documents (q208's text plant, " the
    * end" appended, or q222's vector plant) among fresh documents.
    */
  private def wave(w: Int): IndexedSeq[Doc] = {
    val rng = new java.util.SplittableRandom(args.seed * 1000003L + w * 7919L + 11)
    (0 until WaveDocs).map { j =>
      val id = 10000000L + w.toLong * 10000L + j
      val u = rng.nextDouble()
      if (u < PlantedTextShare) {
        val src = corpus(rng.nextInt(CorpusDocs)).text
        Doc(id, src + " the end", randomVec(rng, rng.nextInt(Classes)), plantedText = true, plantedVec = false)
      } else if (u < PlantedTextShare + PlantedVecShare) {
        val v = corpus(rng.nextInt(CorpusDocs)).vec.clone()
        v(0) += VecNudge
        Doc(id, randomText(rng).mkString(" "), v, plantedText = false, plantedVec = true)
      } else Doc(id, randomText(rng).mkString(" "), randomVec(rng, rng.nextInt(Classes)), false, false)
    }
  }

  private def df(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => Row(d.id, d.text, d.vec.toSeq)).asJava, DocSchema)

  private def dir(name: String) = new File(args.workDir, name).getPath

  /** Reference BPE count of `text` under `merges`, with the encoder's own
    * word split (lowercase alphanumeric runs) and merge order.
    */
  private def bpeCount(text: String, merges: Seq[(String, String)], cache: mutable.Map[String, Int]): Long =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).map { w =>
      cache.getOrElseUpdate(w, {
        var s = w.map(c => s" $c ").mkString
        merges.foreach { case (a, b) => s = s.replace(s" $a  $b ", s" $a$b ") }
        s.trim.split("  ").length
      }).toLong
    }.sum

  private def setUp(i: Int): Env = {
    val corpusRoot = dir(s"corpus-$i")
    val version = VersionedTable.publish(df(corpus), corpusRoot)
    val pinned = spark.read.format("reftable").option("path", corpusRoot)
      .option("schema", "id BIGINT, text STRING, vec ARRAY<DOUBLE>")
      .option("version", new org.apache.hadoop.fs.Path(version).getName).load()
    val centroids = spark.createDataFrame(corpus.take(Cells)
      .map(d => Row(d.id, d.vec.toSeq)).asJava,
      StructType(Seq(StructField("cid", LongType), StructField("cv", ArrayType(DoubleType)))))
    val indexRoot = dir(s"index-$i")
    IvfIndex.build(pinned.select("id", "vec"), centroids, "id", "vec", indexRoot)
    val merges = TextAnalysis.bpeTrainInMemory(pinned, "text", Merges)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    Env(pinned, indexRoot, dir(s"admitted-$i"), merges)
  }

  private def admittedRows(env: Env): Long =
    spark.read.format("reftable").option("path", env.admittedRoot)
      .option("schema", AdmittedDdl).load().count()

  /** Runs one wave and checks every document's outcome; returns None when
    * the wave threw (all its documents then count failed, untimed).
    */
  private def runWave(env: Env, w: Int, docs: IndexedSeq[Doc], admittedSoFar: Long,
      bpeCache: mutable.Map[String, Int]): Option[WaveRec] = {
    val traced = tracer.enabled
    val ids = mutable.Map.empty[String, Long]
    def step[T](layer: String, name: String)(f: => T): T = {
      val r = tracer.span(layer, name)(f)
      ids(name) = tracer.lastSpanId
      r
    }
    val start = Clock.nowMs
    val cpu0 = Jvm.threadCpuMs
    try tracer.span("workload", s"wave-$w") {
      if (args.faultEvery > 0 && w % args.faultEvery == 0)
        throw new IllegalStateException("injected fault")
      val batch = df(docs)
      val textPairs = step("operators", "near_dup") {
        Dedup.nearDupAgainst(env.corpusDf, batch, "id", "text")
          .select("batch_id", "corpus_id").collect()
      }
      val textDups = textPairs.map(_.getLong(0)).toSet
      val vecDups = step("operators", "ivf_admit") {
        IvfIndex.admitAgainst(spark, env.indexRoot, batch, "id", "vec", VecThreshold, nProbe = 2)
          .select("batch_id").distinct().collect().map(_.getLong(0)).toSet
      }
      val survivors = docs.filterNot(d => textDups(d.id) || vecDups(d.id))
      val survivorsDf = df(survivors).select("id", "text")
      val opts = RefTableOptions.from(new CaseInsensitiveStringMap(
        Map("path" -> env.admittedRoot, "schema" -> AdmittedDdl).asJava))
      val listed = if (traced) LayerFs.tree(new File(env.admittedRoot)) else (0L, 0L)
      val c0 = Clock.nowMs
      val appendCpu0 = Jvm.threadCpuMs
      step("reftable.commit", "append") { RefTableWrites.appendVersion(opts, survivorsDf) }
      val appendCpu = Jvm.threadCpuMs - appendCpu0
      val ack = Clock.nowMs
      val written = if (traced) LayerFs.tree(new File(env.admittedRoot)) else (0L, 0L)
      val packed = step("operators", "tokenize_pack") {
        val enc = TextAnalysis.bpeEncode(survivorsDf, "id", "text", env.merges)
        Curation.packShards(enc, "id", "n_bpe", ShardBudget)
          .select("id", "n_tok", "shard").collect()
      }
      val end = Clock.nowMs
      val cpu1 = Jvm.threadCpuMs
      // traced waves time a fresh reader seeing the whole append (the end
      // of the run checks the total either way)
      val (visible, freshMs) =
        if (!traced) (admittedSoFar + survivors.size, Double.NaN)
        else {
          val r0 = Clock.nowMs
          val n = step("reftable.read", "read_back")(admittedRows(env))
          (n, Clock.nowMs - r0)
        }

      // checks: planted copies rejected, everything else admitted, the
      // append visible, every survivor encoded and packed exactly once
      val bad = mutable.Map.empty[Long, String]
      docs.foreach { d =>
        if (d.plantedText && !textDups(d.id)) bad(d.id) = "planted text copy admitted"
        else if (!d.plantedText && textDups(d.id)) bad(d.id) = "document rejected as a text copy"
        else if (d.plantedVec && !vecDups(d.id)) bad(d.id) = "planted vector copy admitted"
        else if (!d.plantedVec && vecDups(d.id)) bad(d.id) = "document rejected as a vector copy"
      }
      if (visible != admittedSoFar + survivors.size)
        survivors.foreach(d => bad(d.id) = "append not visible to a fresh reader")
      val byId = packed.groupBy(_.getLong(0))
      var before = 0L
      survivors.sortBy(_.id).foreach { d =>
        val want = bpeCount(d.text, env.merges, bpeCache)
        byId.get(d.id) match {
          case Some(Array(r)) if r.getLong(1) != want => bad(d.id) = "wrong BPE token count"
          case Some(Array(r)) if r.getInt(2) != (before / ShardBudget).toInt => bad(d.id) = "wrong shard"
          case Some(Array(_)) =>
          case _ => bad(d.id) = "survivor missing from the packed shards, or packed twice"
        }
        before += want
      }
      bad.values.groupBy(identity).foreach { case (why, xs) => ledger.fail(xs.size, why) }
      ledger.time(docs.size)
      Some(WaveRec(w, start, end, ack - c0, freshMs, survivors.size, textPairs.length,
        traced, ids.toMap, written._1 - listed._1, written._2 - listed._2, cpu1 - cpu0, c0, ack, appendCpu))
    } catch {
      case t: Throwable =>
        ledger.fail(docs.size, s"wave failed: ${t.getClass.getSimpleName}: ${t.getMessage}")
        None
    }
  }

  def run(): Unit = {
    val setups = (1 to SetUps).map { i =>
      val t0 = Clock.nowMs
      val env = setUp(i)
      (Clock.nowMs - t0, env)
    }
    out.notes("setup_s_each") = setups.map(s => f"${s._1 / 1000}%.3f").mkString(",")
    val env = setups.last._2

    val bpeCache = mutable.Map.empty[String, Int]
    var admitted = 0L
    var w = 0
    def next(): Option[WaveRec] = {
      val docs = wave(w)
      ledger.attempt(docs.size)
      val r = runWave(env, w, docs, admitted, bpeCache)
      r.foreach(x => admitted += x.admitted)
      w += 1
      r
    }
    val warm = (1 to WarmUpWaves).flatMap(_ => next())
    out.notes("warm_up_wave_ms") = warm.map(r => f"${r.end - r.start}%.0f").mkString(",")

    val windows = if (args.trace) Seq(false, true) else Seq(false)
    val results = windows.map { traced =>
      if (traced) tracer.enable()
      val gc0 = Jvm.gcMs
      val t0 = Clock.nowMs
      val recs = mutable.ArrayBuffer.empty[WaveRec]
      while (Clock.nowMs < t0 + args.seconds * 1000.0) next().foreach(recs += _)
      val t1 = Clock.nowMs
      (recs.toSeq, t1 - t0, Jvm.gcMs - gc0)
    }
    // every append of the run must be visible to a fresh reader
    val visible = admittedRows(env)
    if (visible != admitted)
      ledger.fail(math.max(1L, math.abs(admitted - visible)), "appends not visible to a fresh reader")
    val heapMb = Jvm.retainedHeapMb
    tracer.settle()

    val (recs0, wall0, _) = results.head
    val waveMs = recs0.map(r => r.end - r.start)
    out.notes("waves_timed") = recs0.size.toString
    out.notes("wave_ms") = waveMs.map(x => f"$x%.0f").mkString(",")
    // a wave's CPU: its calling thread's and that of the Spark tasks that
    // finished while it ran (the waves run one at a time, and nothing else
    // runs beside them); an append's: the same over the append
    val appendCpu = recs0.map(r => r.appendThreadCpuMs + taskCpu.msBetween("", r.c0, r.ack))
    val waveCpu = recs0.map(r => r.threadCpuMs + taskCpu.msBetween("", r.start, r.end))
    out.notes("append_ms") = recs0.map(r => f"${r.commitMs}%.0f").mkString(",")
    out.notes("wave_cpu_ms") = waveCpu.map(x => f"$x%.0f").mkString(",")
    out.notes("append_cpu_ms") = appendCpu.map(x => f"$x%.0f").mkString(",")
    out.endToEnd("setup_s") = (Stats.median(setups.map(_._1)) / 1000.0, "s")
    out.endToEnd("op_cpu_ms") = (Stats.median(waveCpu), "ms")
    out.endToEnd("commit_cpu_ms") = (Stats.median(appendCpu), "ms")
    out.endToEnd("retained_heap_mb") = (heapMb, "MiB")

    if (args.trace) {
      val (recs1, _, gc1) = results(1)
      layerMetrics(recs1.filter(_.traced), env)
      val traced = recs1.map(r => r.end - r.start)
      // wall-clock figures of the untraced window
      out.perLayer("latency_p50_ms") = (Stats.pct(waveMs, 50), "ms")
      out.perLayer("latency_p90_ms") = (Stats.pct(waveMs, 90), "ms")
      out.perLayer("rows_per_s") = (recs0.map(_.admitted).sum / (wall0 / 1000.0), "1/s")
      out.perLayer("commit_p50_ms") = (Stats.pct(recs0.map(_.commitMs), 50), "ms")
      out.perLayer("latency_p99_ms") = (Stats.pct(waveMs, 99), "ms")
      out.perLayer("freshness_p50_ms") = (Stats.pct(recs1.map(_.freshMs), 50), "ms")
      out.perLayer("freshness_p90_ms") = (Stats.pct(recs1.map(_.freshMs), 90), "ms")
      out.perLayer("commit.p90_ms") = (Stats.pct(recs1.map(_.commitMs), 90), "ms")
      out.perLayer("trace.overhead_ms") = (Stats.pct(traced, 50) - Stats.pct(waveMs, 50), "ms")
      out.perLayer("jvm.gc_ms") = (gc1.toDouble, "ms")
      out.perLayer("error_rate") = (ledger.failed.toDouble / math.max(1L, ledger.attempted), "ratio")
    }
  }

  private def layerMetrics(recs: Seq[WaveRec], env: Env): Unit = {
    val spans = tracer.allSpans.map(s => s.id -> s).toMap
    def m(xs: Seq[Double]) = Stats.mean(xs)
    def split(name: String): Seq[(Double, Double, Seq[JobRec])] = recs.flatMap { r =>
      r.spanIds.get(name).flatMap(spans.get).map { s =>
        val jobs = tracer.jobsOf(s)
        require(jobs.nonEmpty, s"span $name of a traced wave has no Spark job attributed to it")
        val jobMs = Intervals.coveredMs(jobs.map(j => (j.start.toDouble, j.end.toDouble)), s.start, s.end)
        (s.ms, jobMs, jobs)
      }
    }
    Seq("near_dup", "ivf_admit", "tokenize_pack").foreach { name =>
      val xs = split(name)
      out.perLayer(s"op.${name}_ms") = (m(xs.map(_._1)), "ms")
      out.perLayer(s"op.${name}_job_ms") = (m(xs.map(_._2)), "ms")
      out.perLayer(s"op.${name}_gap_ms") = (m(xs.map(x => x._1 - x._2)), "ms")
    }
    out.perLayer("op.near_dup_pairs") = (m(recs.map(_.pairs.toDouble)), "count")
    val waveJobs = recs.map(r => r.spanIds.values.flatMap(spans.get).flatMap(tracer.jobsOf).toSeq)
    out.perLayer("exec.shuffle_bytes_per_wave") =
      (m(waveJobs.map(js => tracer.stagesOf(js).map(_.shuffleWriteBytes).sum.toDouble)), "B")

    val commits = split("append")
    out.perLayer("commit.job_ms") = (m(commits.map(_._2)), "ms")
    out.perLayer("commit.driver_gap_ms") = (m(commits.map(c => c._1 - c._2)), "ms")
    out.perLayer("commit.jobs") = (m(commits.map(_._3.size.toDouble)), "count")
    out.perLayer("commit.files_written") = (m(recs.map(_.filesWritten.toDouble)), "count")
    out.perLayer("commit.bytes_written") = (m(recs.map(_.bytesWritten.toDouble)), "B")
    LayerFs.tableMetrics(env.admittedRoot, out)
  }
}
