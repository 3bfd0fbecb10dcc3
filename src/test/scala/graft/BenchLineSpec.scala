package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The compact bench line is the only part of the per-round artifact the
  * driver's 2000-char stdout tail is guaranteed to retain, so it has a hard
  * budget. Since round 16 the line carries a PLAIN `"queries"` map — the
  * form the driver's per-query parser consumes (VERDICT r15 item 2) —
  * truncated to the slowest K entries (failed first) because a complete
  * plain map cannot fit the window (names alone + JSON punctuation exceed
  * it). The r6-r15 front-coded `qs` codec is deleted from the program;
  * tools/decode_bench.py alone reads those committed artifacts.
  */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def emit(medians: Seq[(String, Double)]): String =
    Bench.compactLine(medians, total = medians.map(_._2).filter(_ >= 0).sum,
      totalMin = 1.0, nFailed = medians.count(_._2 < 0), rounds = 3,
      laStart = 0.1, laEnd = 2.0, steal = 0.05, loadOk = true, sfName = "sf0.1")

  test("compact line: plain queries map, within budget, slowest-first, at the real inventory") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // realistic magnitude mix: mostly sub-second, a heavy tail into tens of s
    val medians = names.zipWithIndex.map { case (n, i) =>
      n -> (0.02 + (i % 7) * 0.11 + (if (i % 13 == 0) 4.7 + i % 30 else 0.0))
    }
    val line = emit(medians)
    assert(line.length <= Bench.LineBudget, s"line is ${line.length} chars")
    val json = mapper.readTree(line)
    assert(json.get("metric").asText == "total")
    assert(json.get("unit").asText == "sec")
    val qs = json.get("queries")
    assert(qs != null && qs.isObject, "no plain queries map in the tail line")
    assert(qs.size + json.get("q_omitted").asInt == json.get("n_q").asInt)
    assert(json.get("n_q").asInt == names.size)
    // the kept set is exactly the K slowest, so every omitted entry is
    // cheaper than every kept one
    val keptNames = qs.fieldNames().asScala.toSet
    assert(keptNames.size >= 60, s"only ${keptNames.size} plain entries fit — envelope bloated?")
    val byName = medians.toMap
    val minKept = keptNames.map(byName).min
    val maxOmitted = medians.collect { case (n, v) if !keptNames.contains(n) => v }
      .foldLeft(0.0)(math.max)
    assert(minKept >= maxOmitted,
      s"kept a $minKept s query while omitting a $maxOmitted s one")
    // values survive at regression-relevant precision
    keptNames.take(20).foreach { n =>
      assert(math.abs(qs.get(n).asDouble - byName(n)) <= math.max(0.005, byName(n) * 0.06))
    }
  }

  test("compact line: failed queries always ride the line, ahead of slow successes") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // adversarial: every success is slow (10-99 s, widest value encoding) so
    // the budget is tight, and the failures are the FASTEST entries — the
    // slowest-first rank alone would drop them
    val medians = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 29 == 0) -0.01 else 10.0 + (i % 90))
    }
    val line = emit(medians)
    assert(line.length <= Bench.LineBudget, s"line is ${line.length} chars")
    val qs = mapper.readTree(line).get("queries")
    medians.filter(_._2 < 0).foreach { case (n, _) =>
      assert(qs.has(n), s"failed query $n missing from the tail line")
      assert(qs.get(n).asDouble < 0, s"failed query $n lost its negative marker")
    }
  }

  test("compact line: small inventories emit the complete map with q_omitted 0") {
    val medians = Seq("q_a" -> 1.5, "q_b" -> -2.0, "q_c" -> 0.25)
    val json = mapper.readTree(emit(medians))
    assert(json.get("q_omitted").asInt == 0)
    assert(json.get("queries").size == 3)
  }
}
