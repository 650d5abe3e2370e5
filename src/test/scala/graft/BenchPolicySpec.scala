package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The bench outlier/prior policy is pure — test it without a session:
  * re-time only past 2× the prior, flag sustained regressions, never let
  * a confirmed regression become its own baseline (VERDICT r09 #5), and
  * keep the printed stdout line parseable inside the kept stdout tail.
  */
class BenchPolicySpec extends AnyFunSuite {

  private def counting(vals: Double*): (() => Double, () => Int) = {
    var i = 0
    val it = vals.iterator
    (() => { i += 1; it.next() }, () => i)
  }

  test("no prior, under the sampling floor: first timing reported, no re-time") {
    val (re, n) = counting(99.0, 99.0)
    assert(Bench.settleSamples(None, 0.7, re) === ((0.7, false, Seq(0.7))))
    assert(n() === 0)
  }

  test("within 2x of prior and under the floor: no re-time") {
    val (re, n) = counting(99.0, 99.0)
    assert(Bench.settleSamples(Some(0.6), 0.9, re) === ((0.9, false, Seq(0.9))))
    assert(n() === 0)
  }

  test("heavy queries with no prior are sampled: median reported, samples kept") {
    // VERDICT r10 #2: expensive NEW queries log all 3 samples even
    // unflagged, so unexplained drift is diagnosable post-hoc
    val (re, n) = counting(2.4, 2.6)
    assert(Bench.settleSamples(None, 2.5, re) ===
      ((2.5, false, Seq(2.5, 2.4, 2.6))))
    assert(n() === 2)
  }

  test("in-band heavy with a prior runs ONCE (r16 wall-clock cut)") {
    // VERDICT r15 #1: the unconditional median-of-3 on every ≥1 s query
    // cost ~340 s of the r15 sweep and the driver timed out. A heavy
    // whose first timing sits within DriftSampleFactor× its prior is a
    // steady number — no re-time, no samples.
    val (re, n) = counting(99.0, 99.0)
    assert(Bench.settleSamples(Some(2.0), 2.2, re) ===
      ((2.2, false, Seq(2.2))))
    assert(n() === 0)
    // improvements are in-band too
    val (re2, n2) = counting(99.0)
    assert(Bench.settleSamples(Some(3.0), 1.4, re2) === ((1.4, false, Seq(1.4))))
    assert(n2() === 0)
  }

  test("sustained drift under the first-timing trigger still flags via the median") {
    // the q_neardup_jaccard r10 shape: carried prior high enough that the
    // first timing doesn't trip 2×, but the heavy drift band (first >
    // 1.5× prior) re-times anyway and the median exceeds 2× the prior →
    // flagged, not silent
    val (re, _) = counting(3.3, 3.1)
    assert(Bench.settleSamples(Some(1.5), 2.9, re) ===
      ((3.1, true, Seq(2.9, 3.3, 3.1))))
  }

  test("sub-second movers past 2x prior draw the confirmation samples") {
    // VERDICT r15 wrong #2: the q_join_outer shape (0.39 s prior, 1.21 s
    // first = 3.1×) must carry samples so the watch-list can adjudicate
    // it post-hoc; the median decides, and the flag floor still applies
    val (re, n) = counting(0.41, 0.44)
    assert(Bench.settleSamples(Some(0.39), 1.21, re) ===
      ((0.44, false, Seq(1.21, 0.41, 0.44))))
    assert(n() === 2)
  }

  test("first timing past 2x, median recovers: de-noised, not regressed") {
    // 13.0 then 1.8, 2.2 → median 2.2, under 2×2.0
    val (re, n) = counting(1.8, 2.2)
    assert(Bench.settleSamples(Some(2.0), 13.0, re) ===
      ((2.2, false, Seq(13.0, 1.8, 2.2))))
    assert(n() === 2)
  }

  test("median still past 2x: reported AND flagged regressed") {
    // the r9 q_pagerank shape: slow on all three back-to-back timings
    val (re, _) = counting(13.3, 12.9)
    assert(Bench.settleSamples(Some(2.0), 13.1, re) ===
      ((13.1, true, Seq(13.1, 13.3, 12.9))))
  }

  test("sub-second excursions de-noise via the median but never flag") {
    // the q_pivot shape: 0.20 s prior, ~0.5 s sustained — scheduler noise
    // territory (RegressFloorSec), not a regression worth a flag/retry
    val (re, n) = counting(0.48, 0.49)
    assert(Bench.settleSamples(Some(0.20), 0.50, re) ===
      ((0.49, false, Seq(0.50, 0.48, 0.49))))
    assert(n() === 2)
  }

  test("zero/negative prior never divides the policy") {
    // ≥2 s still samples (the band is priorless by design) but a
    // degenerate prior can never produce a flag
    val (re, n) = counting(13.2, 12.8)
    assert(Bench.settleSamples(Some(0.0), 13.0, re) ===
      ((13.0, false, Seq(13.0, 13.2, 12.8))))
    assert(n() === 2)
  }

  test("nextPriors: stall-scale regressions keep the old prior, the rest refresh") {
    val times = Map("q_a" -> 13.1, "q_b" -> 0.9, "q_new" -> 4.0)
    val priors = Map("q_a" -> 1.9, "q_b" -> 1.0)
    val next = Bench.nextPriors(times, priors, Set("q_a", "q_new"))
    assert(next("q_a") === 1.9)  // 13.1 > 4×1.9: stall scale, prior held
    assert(next("q_b") === 0.9)  // normal: fresh measurement
    assert(next("q_new") === 4.0) // regressed but no old prior: fresh
  }

  test("nextPriors: a confirmed regression within the cap becomes the new prior") {
    // the BENCH_r10 q_source_overlap shape: 0.49 s builder-box prior vs a
    // sustained ~1.1 s driver-box number — a cross-box envelope, not a
    // stall; accepting the confirmed number makes the flag one-shot
    // instead of permanent (r11 policy)
    val next = Bench.nextPriors(
      Map("q_so" -> 1.13), Map("q_so" -> 0.49), Set("q_so"))
    assert(next("q_so") === 1.13) // 1.13 ≤ 4×0.49: accepted
  }

  test("nextPriors: degraded-tail cold timings never arm as priors") {
    // VERDICT r16 #1 / ADVICE r16: a past-budget query records a cold
    // unwarmed single run — carrying it as a prior would mask real
    // regressions next sweep (inflated baseline) or fake them (contended
    // baseline). Old prior kept when present; priorless stays priorless.
    val next = Bench.nextPriors(
      times = Map("q_a" -> 312.7, "q_b" -> 0.9, "q_new" -> 63.9),
      priors = Map("q_a" -> 1.0, "q_b" -> 1.0),
      regressed = Set.empty,
      degraded = Set("q_a", "q_new"))
    assert(next("q_a") === 1.0)      // old prior held, cold 312.7 discarded
    assert(next("q_b") === 0.9)      // in-protocol: fresh measurement
    assert(!next.contains("q_new"))  // degraded + no prior: stays priorless
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

  test("parsePriors prefers the priors map over measured queries") {
    val txt = """{"metric":"total","value":14.0,"queries":{"q_a":13.100,"q_b":0.900},""" +
      """"regressed":["q_a"],"priors":{"q_a":1.900,"q_b":0.900},"priors_cpus":32,"sf":"/d/sf0.1"}"""
    assert(Bench.parsePriors(txt, "/d/sf0.1", 32) ===
      Map("q_a" -> 1.9, "q_b" -> 0.9))
  }

  test("parsePriors discards priors recorded at a different core count") {
    // VERDICT r18 #3: an 8-core scaling sweep must not arm the baseline a
    // 32-core sweep re-times against (and vice versa)
    val txt = """{"queries":{"q_a":2.500},"priors":{"q_a":2.500},"priors_cpus":8,"sf":"/d/sf0.1"}"""
    assert(Bench.parsePriors(txt, "/d/sf0.1", 32) === Map.empty)
    assert(Bench.parsePriors(txt, "/d/sf0.1", 8) === Map("q_a" -> 2.5))
  }

  test("parsePriors discards width-untagged priors (pre-r19 files)") {
    // a prior whose sweep width is unrecorded is unverifiable — the exact
    // contamination class VERDICT r18 #3 found (8-core priors armed,
    // indistinguishable from 32-core ones); the next full sweep re-arms
    val txt = """{"metric":"total","queries":{"q_a":2.500,"wc_words":0.300},"sf":"/d/sf0.1"}"""
    assert(Bench.parsePriors(txt, "/d/sf0.1", 32) === Map.empty)
  }

  test("parsePriors discards priors from a different scale factor") {
    val txt = """{"queries":{"q_a":2.500},"priors":{"q_a":2.500},"priors_cpus":32,"sf":"/d/sf0.001"}"""
    assert(Bench.parsePriors(txt, "/d/sf0.1", 32) === Map.empty)
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

  test("adjudication triggers only past 4x an armed prior and the noise floor") {
    // VERDICT r17 #1 — the q_image_neardup shape: 0.61 s prior, 25.38 s
    // in-band settled value must trigger the fresh-context confirmation
    assert(Bench.needsAdjudication(Some(0.61), 25.38))
    // under 4x: the normal 2x flag machinery owns it, no extra rerun
    assert(!Bench.needsAdjudication(Some(1.0), 3.9))
    // sub-floor movers are scheduler noise, never worth a session restart
    assert(!Bench.needsAdjudication(Some(0.1), 0.9))
    // no prior / degenerate prior: nothing to adjudicate against
    assert(!Bench.needsAdjudication(None, 25.0))
    assert(!Bench.needsAdjudication(Some(0.0), 25.0))
  }

  test("adjudicate publishes the better number and re-judges the flag on it") {
    // stall victim: fresh context recovers → recovered value, no flag
    assert(Bench.adjudicate(0.61, 25.38, 0.98) === ((0.98, false)))
    // real plan regression: still slow in a fresh context → flag stands
    assert(Bench.adjudicate(1.0, 13.0, 12.5) === ((12.5, true)))
    // fresh run slower than the stalled one (unlucky): keep the better
    assert(Bench.adjudicate(0.61, 3.1, 4.0) === ((3.1, true)))
    // recovery into the 1-2x band: in-band, unflagged
    assert(Bench.adjudicate(1.0, 9.0, 1.6) === ((1.6, false)))
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
      extra = ""","regressed":["q_007"],"seed":7""")
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
