package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The bench policy is pure — test it without a session: a published
  * timing depends only on the current run (a first timing of 1 s or more
  * is re-timed twice and the median published), the degraded tail is
  * reported apart, segments get proportional budget slices, the host
  * readers never throw, and the printed stdout line stays parseable inside
  * the kept stdout tail.
  */
class BenchPolicySpec extends AnyFunSuite {

  private def counting(vals: Double*): (() => Double, () => Int) = {
    var i = 0
    val it = vals.iterator
    (() => { i += 1; it.next() }, () => i)
  }

  // Bench reads no prior: every case below is settled by the current
  // run's first timing alone.

  test("no prior, under the sampling floor: first timing reported, no re-time") {
    val (re, n) = counting(99.0, 99.0)
    assert(Bench.settle(0.7, re) === ((0.7, Seq(0.7))))
    assert(n() === 0)
  }

  test("within 2x of prior and under the floor: no re-time") {
    // what the last sweep measured no longer matters: a sub-second first
    // timing is published as it is, up to the floor
    val (re, n) = counting(99.0, 99.0)
    assert(Bench.settle(0.9, re) === ((0.9, Seq(0.9))))
    assert(Bench.settle(0.999, re) === ((0.999, Seq(0.999))))
    assert(n() === 0)
  }

  test("heavy queries with no prior are sampled: median reported, samples kept") {
    val (re, n) = counting(2.4, 2.6)
    assert(Bench.settle(2.5, re) === ((2.5, Seq(2.5, 2.4, 2.6))))
    assert(n() === 2)
  }

  test("first timing past 2x, median recovers: de-noised, not regressed") {
    // 13.0 then 1.8, 2.2: the inflated first timing is caught by the
    // median of three
    val (re, n) = counting(1.8, 2.2)
    assert(Bench.settle(13.0, re) === ((2.2, Seq(13.0, 1.8, 2.2))))
    assert(n() === 2)
  }

  test("settle: exactly 1.0 s is heavy") {
    val (re, n) = counting(1.25, 0.75)
    assert(Bench.settle(Bench.SampleAtSec, re) === ((1.0, Seq(1.0, 1.25, 0.75))))
    assert(n() === 2)
  }

  test("splitHeadline: the 2x gate reads in-protocol seconds only") {
    // VERDICT r16 #1: BENCH_r16's single 1035.6 s value mixed 247 cold
    // degraded runs with warm-protocol timings and nominally failed the
    // gate while the outliers re-ran 55x faster under the same harness.
    // binary-exact values so the equality is order-insensitive
    val times = Map("q_warm1" -> 1.5, "q_warm2" -> 2.5, "q_cold" -> 312.75)
    val (inband, degraded) = Bench.splitHeadline(times, Set("q_cold"))
    assert(inband === 4.0)
    assert(degraded === 312.75)
    // no degraded tail → everything is in-band
    assert(Bench.splitHeadline(times, Set.empty) === ((316.75, 0.0)))
  }

  test("inbandCount partitions exactly what value_inband sums") {
    // ADVICE r17: a degraded query whose timed run THREW is in the
    // degraded name list but absent from times — `times.size - deg.size`
    // undercounts (negative with enough errors); counting from times
    // itself keeps n_inband consistent with value_inband
    val times = Map("q_a" -> 1.0, "q_b" -> 2.0, "q_cold" -> 9.0)
    // q_cold degraded+measured, q_err degraded+errored (absent from times)
    assert(Bench.inbandCount(times, Set("q_cold", "q_err")) === 2)
    assert(Bench.inbandCount(times, Set.empty) === 3)
    assert(Bench.inbandCount(Map.empty, Set("q_err1", "q_err2")) === 0)
  }

  test("segment slices are proportional with automatic rollover") {
    // VERDICT r17 #3: 310 queries, 1500 s — the first 20-query segment
    // gets its proportional share
    val s1 = Bench.segmentSlice(1500.0, 310, 20)
    assert(math.abs(s1 - 1500.0 * 20 / 310) < 1e-9)
    // a fast segment leaves MORE remaining budget for fewer remaining
    // queries → later slices grow (rollover), never shrink below fair
    val s2 = Bench.segmentSlice(1500.0 - 50.0, 290, 20)
    assert(s2 > s1)
    // exhausted budget → zero slice: the whole segment degrades, exactly
    // the old global-backstop behavior
    assert(Bench.segmentSlice(0.0, 100, 20) === 0.0)
    assert(Bench.segmentSlice(-3.0, 100, 20) === 0.0)
    // last partial segment: capped at the remaining query count
    assert(Bench.segmentSlice(100.0, 10, 20) === 100.0)
    assert(Bench.segmentSlice(100.0, 0, 20) === 0.0)
  }

  test("host evidence readers degrade, never throw") {
    // on this CI box both are readable; the contract on any box is
    // "number or the documented sentinel", never an exception
    val l = Bench.loadAvg1m()
    assert(l >= 0.0 || l === -1.0)
    val (steal, total) = Bench.cpuJiffies()
    assert((steal >= 0L && total > 0L) || (steal === -1L && total === -1L))
  }

  test("contract line: 312 queries and 312 long errors fit the window and parse") {
    // the invoking harness keeps only the stdout tail, so the printed line
    // must stay within MaxLine and parse, while value / n_queries / failed
    // still describe the WHOLE sweep; the queries kept are the slowest
    val times = ListMap((0 until 312).map(i =>
      f"q_$i%03d" -> 0.125 * (i % 8 + 1)): _*)
    val errors = ListMap((0 until 312).map(i =>
      f"q_err_$i%03d" -> ("boom \"quoted\" \\ path\nline " * 40 + i)): _*)
    val line = Bench.contractLine(times, errors, "/d/sf0.1", inband = "",
      extra = ""","degraded_tail":3,"seed":7""")
    assert(line.length <= Bench.MaxLine)
    val js = new ObjectMapper().readTree(line)
    assert(js.get("metric").asText === "total")
    assert(js.get("value").asDouble === times.values.sum)
    assert(js.get("unit").asText === "sec")
    assert(js.get("n_queries").asInt === 312)
    assert(js.get("failed").asInt === 312)
    assert(js.get("sf").asText === "/d/sf0.1")
    assert(js.get("seed").asInt === 7)
    val kept = js.get("queries").fieldNames.asScala.toSet
    assert(kept.nonEmpty)
    assert(kept.size + js.get("queries_omitted").asInt === 312)
    assert(kept.map(times).min >= times.removedAll(kept).values.max)
    assert(js.get("errors").size + js.get("errors_omitted").asInt === 312)
  }

  test("contract line: a record that fits is printed whole") {
    val times = ListMap("q_b" -> 2.5, "q_a" -> 1.25)
    val errors = ListMap("q_c" -> "bad \"input\"")
    val inband = ""","value_inband":1.250,"n_inband":1,"value_degraded":2.500"""
    val line = Bench.contractLine(times, errors, "/d/sf0.1", inband, "")
    assert(line === Bench.recordLine(times, errors, "/d/sf0.1", inband, "")())
    assert(line === """{"metric":"total","value":3.750,"value_inband":1.250,""" +
      """"n_inband":1,"value_degraded":2.500,"unit":"sec","n_queries":2,""" +
      """"queries":{"q_b":2.500,"q_a":1.250},"errors":{"q_c":"bad \"input\""},""" +
      """"failed":1,"sf":"/d/sf0.1"}""")
  }
}
