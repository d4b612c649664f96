package graft
import org.apache.spark.sql.SparkSession

/** Driver bench contract: one JSON line on stdout with
  * {"metric","value","unit","queries","sf"}. `value` and `queries` are the
  * per-query P50 over the WARM runs (the cold first pass is excluded from
  * that population and recorded separately under "cold"), so the headline
  * compares warm-vs-warm across rounds — run-to-run JVM/codegen noise was
  * the dominant variance in round-1 numbers. With the default
  * SPARK_GRAFT_RUNS=2 the warm figure is the single second run.
  */
object Bench {
  def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  def short(k: String): String = k.takeWhile(_ != '_').stripPrefix("q")
  // packed form (round 16, "q_fmt":"NN:cs;bare=prev+1"): the per-query map
  // is ONE JSON string of comma-separated tokens in NUMERIC id order. A
  // token is "NN:cs" (explicit id) or a bare "cs" meaning id = previous
  // id + 1 — catalog ids are mostly consecutive, so this drops the key on
  // almost every entry (~4.5 chars/entry vs ~10 for the r15 object form,
  // which measured ~1890 of the exactly-2000-char recorder window at 198
  // entries). BenchLineSpec asserts <1500 chars at 205 simulated entries
  // against the real catalog key population.
  def packed(m: Seq[(String, Double)]): String = {
    val sorted = m.map { case (k, v) => (short(k), math.round(v * 100)) }.sortBy(_._1.toInt)
    var prev = Int.MinValue
    sorted.map { case (id, cs) =>
      val n = id.toInt
      val tok = if (n == prev + 1) cs.toString else s"$id:$cs"
      prev = n
      tok
    }.mkString("\"", ",", "\"")
  }
  /** The exact stdout line for a given warm population — factored out so the
    * line-length budget is spec-testable without running queries. Entries
    * that threw are not in `warm` (a failure's wall time is not a result):
    * their numeric ids ride the `failed` list, omitted when empty. */
  def stdoutLine(
      warm: Seq[(String, Double)], sfName: String,
      drain: Seq[(String, Double)] = Nil, failed: Seq[String] = Nil): String = {
    // the drain map (operator-only seconds for streaming entries — wall
    // minus drain is lifecycle overhead, the component the host
    // environment band dominates) rides the recorded line again since
    // round 17: the NN:cs pack brought the 218-entry line to ~900 chars,
    // so the ~30-streaming-entry drain map fits with room to spare, and
    // environment-band inflation is adjudicable from BENCH_r{N}.json alone
    val drainPart =
      if (drain.isEmpty) "" else s""","drain_unit":"cs","drain":${packed(drain)}"""
    val failedPart =
      if (failed.isEmpty) ""
      else failed.map(short(_).toInt).sorted.mkString(""","failed":[""", ",", "]")
    s"""{"metric":"total","value":${r3(warm.map(_._2).sum)},"unit":"sec","q_key":"NN=qNN","q_fmt":"NN:cs;bare=prev+1","queries":${packed(warm)}$drainPart$failedPart,"sf":"$sfName"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup so the first timed query doesn't absorb JVM/codegen
    // startup (~3s otherwise lands on whichever query runs first)
    try SparkEntry.queries("q08_join_agg_revenue")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // deterministic order for round-over-round comparability; run r+1 of a
    // query follows run r immediately so both see the same cache state
    // per run: (wall seconds, drain seconds) — drain is the operator-only
    // time streaming helpers report through BenchProbe (0 for batch
    // entries); wall minus drain is StreamingQuery lifecycle overhead,
    // the component the host environment band dominates
    // An entry that throws on any run is FAILED: it leaves the per-query
    // map and the total (its wall time measures the failure, not the
    // query) and is listed under "failed" instead
    val outcomes: Seq[(String, Either[Throwable, Seq[(Double, Double)]])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> (try Right((1 to runs).map { _ =>
          BenchProbe.takeDrainSeconds()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          ((System.nanoTime() - t0) / 1e9, BenchProbe.takeDrainSeconds())
        }) catch { case e: Throwable => Left(e) })
    }
    val failed = outcomes.collect { case (k, Left(e)) =>
      System.err.println(s"[bench] $k failed: $e")
      k
    }
    val results = outcomes.collect { case (k, Right(rs)) => k -> rs }
    def p50(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
    // The harness that records this line keeps only the LAST ~2000 chars of
    // stdout; the full-name double-precision form was ~6 KB, so its opening
    // brace fell off the window and the line was never machine-parsed
    // (BENCH_r01..r03 all record parsed:null). Keys are therefore the
    // NUMERIC part of the unique qNN prefix ("57" = q57 — full names in
    // BASELINE.md's table; "q_key" on the line restates the convention)
    // and per-query/drain values are INTEGER CENTISECONDS
    // ("q_unit"/"drain_unit" say so). History of the squeeze: full names
    // ~6 KB (r1-r3, never parsed); qNN + 3-decimal seconds hit 2040 chars
    // at 142 entries; qNN + integer ms hit 1946 at 156. NN + centiseconds
    // measures ~1620 at 156 — ~8.5 chars/entry, headroom to ~200 entries.
    // Headline totals stay 3-decimal seconds. Locale.ROOT: the
    // f-interpolator honors the default locale, and a comma-decimal locale
    // would silently break the JSON contract
    // warm population excludes the cold first run (with runs=2, p50 over
    // both would silently report min(cold, warm))
    def warmOf(rs: Seq[Double]): Double = if (rs.size > 1) p50(rs.tail) else rs.head
    val warm = results.map { case (k, rs) => k -> warmOf(rs.map(_._1)) }
    // operator-only drain time for entries that ran a StreamingQuery
    val drain = results
      .map { case (k, rs) => k -> warmOf(rs.map(_._2)) }
      .filter(_._2 > 0.005)
    val coldTotal = results.map(_._2.head._1).sum
    // the stdout line carries the CONTRACT fields + per-query map + the
    // drain map (back on the line since round 17 — see stdoutLine);
    // cold_total/runs stay BENCH.json-only. Squeeze history: full names
    // ~6 KB (r1–r3, never parsed); object forms hit 1906–1934 chars of
    // the EXACTLY-2000-char recorder window by 193 entries; round 16's
    // "NN:cs" pack (q_fmt field) brought 218 entries to ~900 chars.
    val sfName = new java.io.File(sfDir).getName
    val line = stdoutLine(warm, sfName, drain, failed)
    // full form (BENCH.json only): line + cold/runs attribution
    val full = line.stripSuffix(s""","sf":"$sfName"}""") +
      s""","cold_total":${r3(coldTotal)},"runs":$runs,"sf":"$sfName"}"""
    // belt-and-braces for the machine parse: (a) the raw line on stdout (the
    // forked run inherits sbt's stdout via run/outputStrategy=StdoutOutput, so
    // no "[info] " prefix), (b) the FULL JSON (incl. drain) as BENCH.json in
    // the repo root, which survives any stdout-window truncation
    try {
      val w = new java.io.PrintWriter(new java.io.File("BENCH.json"), "UTF-8")
      try w.println(full) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] BENCH.json not written: $e") }
    println(line)
    spark.stop()
  }
}
