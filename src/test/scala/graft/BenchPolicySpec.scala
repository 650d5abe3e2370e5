package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The bench policy is pure — test it without a session: a published
  * timing depends only on the current run (a warm-up, then a first timing
  * of 1 s or more is re-timed twice and the median published), a query
  * past the budget runs once and is reported apart in the degraded tail,
  * the host readers never throw, and the printed stdout line stays
  * parseable inside the kept stdout tail.
  */
class BenchPolicySpec extends AnyFunSuite {

  private def counting(vals: Double*): (() => Double, () => Int) = {
    var i = 0
    val it = vals.iterator
    (() => { i += 1; it.next() }, () => i)
  }

  // every settle case below is decided by the current run's first
  // timing alone

  test("settle: a first timing under the floor is published, no re-time") {
    val (re, n) = counting(99.0, 99.0)
    assert(Bench.settle(0.7, re) === ((0.7, Seq(0.7))))
    assert(n() === 0)
  }

  test("settle: just under 1.0 s is still published unsampled") {
    // a sub-second first timing is published as it is, up to the floor
    val (re, n) = counting(99.0, 99.0)
    assert(Bench.settle(0.9, re) === ((0.9, Seq(0.9))))
    assert(Bench.settle(0.999, re) === ((0.999, Seq(0.999))))
    assert(n() === 0)
  }

  test("settle: a heavy timing is re-timed twice; median and samples kept") {
    val (re, n) = counting(2.4, 2.6)
    assert(Bench.settle(2.5, re) === ((2.5, Seq(2.5, 2.4, 2.6))))
    assert(n() === 2)
  }

  test("settle: one inflated timing among three is caught by the median") {
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
    // VERDICT r16 #1: the r16 sweep's single 1035.6 s value mixed 247 cold
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

  test("value is the sum of the printed parts, each rounded to milliseconds once") {
    def head(times: Map[String, Double]): String =
      Bench.recordLine(times, Map.empty, "/d/sf0.1", Set("q_b"), "")()
        .split(",\"unit\"").head
    // 0.0004 + 0.0004: each part prints 0.000, their unrounded sum 0.001
    assert(head(ListMap("q_a" -> 0.0004, "q_b" -> 0.0004)) === """{"metric":"total",""" +
      """"value":0.000,"value_inband":0.000,"n_inband":1,"value_degraded":0.000""")
    // 1.3964 + 2.4974: parts 1.396 + 2.497 = 3.893, unrounded sum 3.894
    assert(head(ListMap("q_a" -> 1.3964, "q_b" -> 2.4974)) === """{"metric":"total",""" +
      """"value":3.893,"value_inband":1.396,"n_inband":1,"value_degraded":2.497""")
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

  test("measure: over budget, exactly one timed run, marked degraded") {
    // the budget backstop: no warm-up and no re-time, even for a heavy run
    val (run, n) = counting(7.5, 99.0)
    assert(Bench.measure(overBudget = true, run) === ((7.5, Seq(7.5), true)))
    assert(n() === 1)
  }

  test("measure: sub-second first timing: 2 runs, warm-up unpublished") {
    val (run, n) = counting(30.0, 0.5, 99.0)
    assert(Bench.measure(overBudget = false, run) === ((0.5, Seq(0.5), false)))
    assert(n() === 2)
  }

  test("measure: heavy first timing: 4 runs, median of the last three") {
    val (run, n) = counting(30.0, 2.5, 4.0, 1.5, 99.0)
    assert(Bench.measure(overBudget = false, run) ===
      ((2.5, Seq(2.5, 4.0, 1.5), false)))
    assert(n() === 4)
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
    val line = Bench.contractLine(times, errors, "/d/sf0.1", degraded = Set.empty,
      extra = ""","degraded_tail":3,"steal_pct":1.5""")
    assert(line.length <= Bench.MaxLine)
    val js = new ObjectMapper().readTree(line)
    assert(js.get("metric").asText === "total")
    assert(js.get("value").asDouble === times.values.sum)
    assert(js.get("unit").asText === "sec")
    assert(js.get("n_queries").asInt === 312)
    assert(js.get("failed").asInt === 312)
    assert(js.get("sf").asText === "/d/sf0.1")
    assert(js.get("steal_pct").asDouble === 1.5)
    val kept = js.get("queries").fieldNames.asScala.toSet
    assert(kept.nonEmpty)
    assert(kept.size + js.get("queries_omitted").asInt === 312)
    assert(kept.map(times).min >= times.removedAll(kept).values.max)
    assert(js.get("errors").size + js.get("errors_omitted").asInt === 312)
  }

  test("contract line: a record that fits is printed whole") {
    val times = ListMap("q_b" -> 2.5, "q_a" -> 1.25)
    val errors = ListMap("q_c" -> "bad \"input\"")
    val line = Bench.contractLine(times, errors, "/d/sf0.1", Set("q_b"), "")
    assert(line === Bench.recordLine(times, errors, "/d/sf0.1", Set("q_b"), "")())
    assert(line === """{"metric":"total","value":3.750,"value_inband":1.250,""" +
      """"n_inband":1,"value_degraded":2.500,"unit":"sec","n_queries":2,""" +
      """"queries":{"q_b":2.500,"q_a":1.250},"errors":{"q_c":"bad \"input\""},""" +
      """"failed":1,"sf":"/d/sf0.1"}""")
  }
}
