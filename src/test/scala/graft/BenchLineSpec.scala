package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's stdout recorder keeps only the LAST 2000 characters of the
  * bench run's output; if the JSON line outgrows that window its opening
  * brace falls off and the round's BENCH record goes `parsed:null`
  * (the r1–r3 failure mode). These specs pin the packed `q_fmt` line format
  * to a budget with real headroom.
  */
class BenchLineSpec extends AnyFunSuite {

  private def simulatedWarm(n: Int): Seq[(String, Double)] = {
    // real catalog keys first (worst-case: real names, 3-digit ids), then
    // synthetic 3-digit extras with worst-case 4-digit centisecond values
    val real = SparkEntry.queries.keys.toSeq.sorted
    val extra = (900 until (900 + math.max(0, n - real.size)))
      .map(i => s"q${i}_simulated_round16_entry")
    // pessimistic value widths: every 8th entry 4-digit cs (>10 s), the
    // rest 3-digit cs — heavier than any recorded round's distribution
    (real ++ extra).take(n).zipWithIndex.map { case (k, i) =>
      k -> (if (i % 8 == 0) 99.99 else 9.99)
    }
  }

  // the drain map rides the line again (round 17): budget with a
  // pessimistic 60-streaming-entry drain map, scattered ids (mostly
  // explicit NN: prefixes — the worst pack density)
  private def simulatedDrain(n: Int): Seq[(String, Double)] = {
    // draw from a pool wide enough that every-4th sampling still yields the
    // requested n entries (230-wide gave only 58 of a requested 60)
    val drain = simulatedWarm(4 * n).zipWithIndex.collect {
      case ((k, _), i) if i % 4 == 0 => k -> 99.99
    }.take(n)
    assert(drain.size == n, s"drain sim produced ${drain.size} of $n entries")
    drain
  }

  // early-warning margin, not the contract: the pessimistic sim at the
  // CURRENT catalog (every value 3–4 digit cs, 60 drain entries) must keep
  // ~20% headroom under the 2000-char window; the real 220-entry line
  // measures ~1080 chars
  test("packed bench stdout line keeps 20% margin at 205 entries") {
    val line = Bench.stdoutLine(simulatedWarm(205), "sf0.1", simulatedDrain(60))
    assert(line.length < 1600, s"line is ${line.length} chars: margin eroded")
  }

  test("packed line keeps headroom inside the 2000-char window at 230 entries") {
    val line = Bench.stdoutLine(simulatedWarm(230), "sf0.1", simulatedDrain(60))
    assert(line.length < 2000, s"line is ${line.length} chars: would truncate")
  }

  test("drain map on the line: packed, unit-declared, omitted when empty") {
    val line = Bench.stdoutLine(
      Seq("q01_scan" -> 0.27, "q02_key" -> 0.23),
      "sf0.1", Seq("q02_key" -> 1.5))
    assert(line.contains("\"drain_unit\":\"cs\",\"drain\":\"02:150\""))
    val bare = Bench.stdoutLine(Seq("q01_scan" -> 0.27), "sf0.1")
    assert(!bare.contains("drain"))
  }

  test("packed line is valid JSON with the declared q_fmt contract fields") {
    // ids 01,02 consecutive (02 emits bare), 106 starts a new run (explicit);
    // numeric order regardless of input string order (q106 sorts before q10
    // as strings — the pack must not)
    val line = Bench.stdoutLine(
      Seq("q106_containment" -> 3.29, "q01_scan_project" -> 0.27, "q02_key_as_field" -> 0.23),
      "sf0.1")
    assert(line.startsWith("{\"metric\":\"total\","))
    assert(line.contains("\"q_fmt\":\"NN:cs;bare=prev+1\""))
    assert(line.contains("\"queries\":\"01:27,23,106:329\""))
    assert(line.endsWith("\"sf\":\"sf0.1\"}"))
    // value = sum of warm seconds, 3-decimal
    assert(line.contains("\"value\":3.790,"))
  }

  test("a thrown entry is listed under failed, absent from queries and the total") {
    val line = Bench.stdoutLine(
      Seq("q01_scan_project" -> 0.27, "q106_containment" -> 3.29), "sf0.1",
      failed = Seq("q02_key_as_field"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("queries").asText() == "01:27,106:329")
    assert(json.get("value").asDouble() == 3.56)
    assert(json.get("failed").isArray && json.get("failed").size() == 1 &&
      json.get("failed").get(0).asInt() == 2, line)
    assert(!Bench.stdoutLine(Seq("q01_scan_project" -> 0.27), "sf0.1").contains("failed"))
    // 230 entries, every 23rd failed: the failures break the packed runs
    // (explicit ids) and add their own list, and the line still fits
    val (bad, ok) = simulatedWarm(230).zipWithIndex.partition(_._2 % 23 == 0)
    val worst = Bench.stdoutLine(
      ok.map(_._1), "sf0.1", simulatedDrain(60), bad.map(_._1._1))
    assert(worst.contains("\"failed\":["))
    assert(worst.length < 2000, s"line is ${worst.length} chars: would truncate")
  }
}
