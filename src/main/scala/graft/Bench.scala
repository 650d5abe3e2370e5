package graft
import scala.collection.immutable.ListMap

/** Benchmark harness (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology — stateless: a published timing depends only on the
  * current run. Bench reads no file but `/proc` (host load and steal);
  * `bench_full.json` and `bench_partial.json` are outputs only.
  *  - the whole sweep runs in one SparkSession under one wall-clock budget,
  *    as the reference times its whole job in one running process group;
  *  - every query is executed once untimed (warm-up: session/JIT/codegen,
  *    parquet footer cache) and then timed on a second full execution;
  *    a first timing of [[SampleAtSec]] or more is re-timed twice and the
  *    median of three published ([[measure]], [[settle]]);
  *  - the action is `write.format("noop")` — a real sink that executes the
  *    complete physical plan (sorts and exchanges included, unlike `count()`
  *    which lets Catalyst prune them) without filesystem cost;
  *  - failures are reported in an `errors` map, never folded into the total.
  *
  * Sweep-state hygiene (VERDICT r09 #1/#2 — the late-sweep outlier class):
  * `catalog.clearCache()` only empties the SQL cache manager. Three kinds of
  * per-query state live OUTSIDE it and are reclaimed only by ContextCleaner
  * — which acts on weak references, i.e. only AFTER a JVM GC, and whose own
  * periodic-GC fallback defaults to 30 min, longer than the whole sweep:
  *  - `localCheckpoint` RDDs (dedup clusters, BPE rounds, dangling PageRank)
  *    hold block-manager memory until GC'd;
  *  - broadcast blocks from every broadcast join;
  *  - shuffle files from every exchange.
  * With the bench heap `build.sbt` sets, min(24 g, half of RAM), GC can
  * stay entirely absent for most of the sweep, so this dead state
  * accumulates until memory pressure finally forces collection — INSIDE
  * whichever unlucky late-sweep query is running (r8: q_fingerprint/q_mi;
  * r9: q_pagerank/q_regression — all sustained through their median-of-3
  * re-times because the degraded state persisted across the back-to-back
  * timings). The harness therefore (a) unpersists
  * stray RDD-level persists after every query and (b) runs an explicit
  * `System.gc()` every [[GcEvery]] queries BETWEEN timed regions, draining
  * ContextCleaner's queue on a schedule so collection debt is paid where it
  * isn't measured.
  */
object Bench {

  /** Heavy-query sampling floor: a query whose first timing reaches this
    * many seconds is re-timed twice and published as the median of three
    * ([[settle]]). This is the one re-time rule seen to set published
    * numbers on a 4-core box: 57 to 89 of the 312 queries draw it in a
    * full sf0.1 sweep, depending on host load.
    */
  val SampleAtSec = 1.0

  /** Published (seconds, samples) of one warm query: the first timing
    * when it is under [[SampleAtSec]], else the median of it and two
    * `retime()` calls. The samples let a reader tell one inflated timing
    * among three (transient machine state caught by the median) from
    * three inflated ones (a degraded sweep context).
    */
  def settle(first: Double, retime: () => Double): (Double, Seq[Double]) =
    if (first < SampleAtSec) (first, Seq(first))
    else {
      val samples = Seq(first, retime(), retime())
      (samples.sorted.apply(1), samples)
    }

  /** The per-query protocol: (published seconds, samples, degraded).
    * Over budget, exactly one timed `run()`, with no warm-up and no
    * re-time, marked degraded; otherwise one untimed warm-up `run()`,
    * then [[settle]] over the next timed runs.
    */
  def measure(overBudget: Boolean,
              run: () => Double): (Double, Seq[Double], Boolean) =
    if (overBudget) { val t = run(); (t, Seq(t), true) }
    else {
      run()
      val (t, samples) = settle(run(), run)
      (t, samples, false)
    }

  /** Headline split (VERDICT r16 #1): the official artifact's single
    * `value` mixed warm-protocol timings with degraded-tail cold runs, so
    * a reader applying the 2× gate to a contended sweep got the wrong
    * answer (the r16 sweep: 1035.6 s headline, of which 247 unwarmed runs;
    * the six worst re-ran at 8.9 s vs their 464 s under the identical
    * harness). Returns (in-protocol seconds, degraded seconds), each
    * rounded to milliseconds once, so the printed `value`, their sum,
    * equals the printed parts' sum — the 2× gate reads ONLY the first,
    * against the in-protocol query count.
    */
  def splitHeadline(times: Map[String, Double],
                    degraded: Set[String]): (Double, Double) = {
    val (deg, in) = times.partition { case (k, _) => degraded(k) }
    def ms(v: Double): Double = math.round(v * 1000) / 1000.0
    (ms(in.values.sum), ms(deg.values.sum))
  }

  /** In-band query count for the artifact's `n_inband` (ADVICE r17): count
    * from the MEASURED map, not `times.size - degraded.size` — a degraded
    * query whose timed run THREW lands in the degraded name list but never
    * in `times`, and the subtraction undercounts (or goes negative when
    * many degraded queries fail). The 2× gate reads value_inband/n_inband,
    * so this count must partition exactly what value_inband sums.
    */
  def inbandCount(times: Map[String, Double], degraded: Set[String]): Int =
    times.count { case (k, _) => !degraded(k) }

  /** 1-minute load average from /proc/loadavg — sampled at sweep start
    * and sweep end, so a contended sweep's record carries the host's own
    * story. Returns -1 when unreadable (non-Linux).
    */
  def loadAvg1m(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal, total) CPU jiffies from /proc/stat's aggregate line; the
    * sweep records 100*Δsteal/Δtotal — hypervisor-stolen time a guest's
    * own loadavg cannot see. (-1,-1) when unreadable.
    */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (-1L, -1L) }

  /** Between-query GC cadence — see the class doc. ~19 collections across
    * a 312-query sweep: enough to keep dead broadcast/checkpoint/shuffle
    * state from compounding, rare enough to cost seconds-total at most.
    */
  val GcEvery = 16

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def jmap(ts: Map[String, Double]): String =
    ts.map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")

  /** One sweep record. `value`, `n_queries` and `failed` always describe
    * the whole sweep (`times`, `errors`); `ts` is the per-query map written
    * (`omitted` more left out) and at most `maxErrors` errors of `errLen`
    * chars are written. With a `degraded` tail, `value_inband`,
    * `n_inband` and `value_degraded` ([[splitHeadline]]) go right after
    * `value`, their sum; `extra` goes right before `sf`.
    */
  def recordLine(times: Map[String, Double], errors: Map[String, String],
                 sfDir: String, degraded: Set[String], extra: String)(
      ts: Map[String, Double] = times, omitted: Int = 0,
      maxErrors: Int = Int.MaxValue, errLen: Int = 200): String = {
    val (in, deg) = splitHeadline(times, degraded)
    val inband =
      if (degraded.isEmpty) ""
      else s""","value_inband":${fmt(in)},"n_inband":${inbandCount(times, degraded)},"value_degraded":${fmt(deg)}"""
    val es = errors.take(maxErrors)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v.take(errLen))}" }
      .mkString("{", ",", "}")
    val eo = if (errors.size > maxErrors)
      s""","errors_omitted":${errors.size - maxErrors}""" else ""
    val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
    s"""{"metric":"total","value":${fmt(in + deg)}$inband,"unit":"sec","n_queries":${times.size},"queries":${jmap(ts)}$om,"errors":$es$eo,"failed":${errors.size}$extra,"sf":"$sfDir"}"""
  }

  /** The harness that invokes this keeps only the last ~2000 characters of
    * stdout, and sbt appends a "[success] Total time..." trailer after us —
    * a JSON line longer than ~1800 chars gets its head truncated and never
    * parses.
    */
  val MaxLine = 1700

  /** The stdout contract line: [[recordLine]] of the whole sweep when it
    * fits in [[MaxLine]]. Full per-query detail always goes to
    * bench_full.json; the printed line degrades to the slowest-K queries
    * if the full map would overflow the window ("value" stays the
    * all-query total either way).
    */
  def contractLine(times: Map[String, Double], errors: Map[String, String],
                   sfDir: String, degraded: Set[String], extra: String): String = {
    def line(ts: Map[String, Double], omitted: Int, maxErrors: Int,
             errLen: Int): String =
      recordLine(times, errors, sfDir, degraded, extra)(ts, omitted, maxErrors, errLen)
    val fullLine = recordLine(times, errors, sfDir, degraded, extra)()
    if (fullLine.length <= MaxLine) fullLine
    else {
      val bySlow = times.toSeq.sortBy(-_._2)
      // shrink the error payload first (failure runs can overflow on
      // errors alone), then keep the slowest k queries that still fit
      var k = bySlow.length
      var cand = line(times, 0, maxErrors = 5, errLen = 80)
      while (cand.length > MaxLine && k > 0) {
        k -= 1
        cand = line(ListMap(bySlow.take(k).sortBy(_._1): _*),
          times.size - k, maxErrors = 5, errLen = 80)
      }
      // k can bottom out at 0 with the line still too long (fixed
      // overhead + 5 truncated errors alone can exceed the window —
      // ADVICE r07): degrade to a minimal line that always fits, so
      // the printed contract line never gets head-truncated into
      // unparseable JSON
      if (cand.length > MaxLine)
        cand = line(ListMap.empty, times.size, maxErrors = 1, errLen = 40)
      cand
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")

    var times = ListMap.empty[String, Double]
    var errors = ListMap.empty[String, String]
    var samplesLog = ListMap.empty[String, Seq[Double]]
    var ran = 0
    def timedRun(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    def cleanup(): Unit = {
      // operators that persist() for intra-query branch reuse leave
      // cache entries behind (caller-managed lifetime — see Dedup /
      // Similarity scaladocs); clear AFTER the timed run — in finally,
      // so a FAILED query's partial caches don't leak into every
      // later query's memory — while the timed run still reuses the
      // warm-up's cache (unchanged per-query semantics).
      Sessions.releaseCaches(spark)
      ran += 1
      if (ran % GcEvery == 0) System.gc() // between timed regions
    }
    val loadBefore = loadAvg1m()
    val jiffiesBefore = cpuJiffies()
    // Wall-clock budget backstop (VERDICT r15 #1: the driver killed the
    // r15 sweep at its own timeout, leaving the round's official artifact
    // dark). Once the sweep's elapsed time crosses the budget, remaining
    // queries degrade to a single timed run with NO warm-up and NO
    // re-times ([[measure]]) — noisier tail numbers, but the sweep always
    // completes and the line always prints. The JSON records how many
    // queries ran degraded so the reader can discount their numbers.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .map(_.trim.toDouble).getOrElse(1500.0)
    val sweepStart = System.nanoTime()
    def sweepElapsed: Double = (System.nanoTime() - sweepStart) / 1e9
    // Degraded-tail record (VERDICT r16 #1): every query that ran past the
    // budget is NAMED — the per-query protocol marker: a query is
    // in-protocol iff absent from this list.
    var degradedNames = List.empty[String]
    // Incremental partial record (VERDICT r15 #1): a killed sweep used to
    // leave nothing parsable. A short running-total line goes to stderr
    // every [[PartialEvery]] queries (stdout keeps the one-line contract),
    // and bench_partial.json carries the full running per-query map; both
    // are [[recordLine]]s marked `"partial":true`.
    val PartialEvery = 25
    val partial = ""","partial":true"""
    def partialLine: String =
      recordLine(times, errors, sfDir, Set.empty, partial)(ListMap.empty, times.size, maxErrors = 0)
    def writePartial(): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_partial.json"),
        (recordLine(times, errors, sfDir, Set.empty, partial)() + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    SparkEntry.benchQueries.foreach { name =>
      val over = sweepElapsed > budgetSec
      // named before the run, so a degraded query that throws is named too
      if (over) degradedNames ::= name
      try {
        val (t, samples, _) = measure(over, () => timedRun(name))
        if (samples.size > 1) samplesLog += name -> samples
        times += name -> t
      } catch {
        case e: Throwable =>
          errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      } finally {
        cleanup()
        writePartial()
        if (ran % PartialEvery == 0) System.err.println(partialLine)
      }
    }
    // post-sweep host channels: read after every timed region, so Δsteal
    // from /proc/stat and the 1-min loadavg pair are the in-band
    // contention evidence for THIS sweep's numbers.
    val loadAfter = loadAvg1m()
    val jiffiesAfter = cpuJiffies()
    val stealPct =
      if (jiffiesBefore._2 >= 0 && jiffiesAfter._2 > jiffiesBefore._2)
        100.0 * (jiffiesAfter._1 - jiffiesBefore._1) /
          (jiffiesAfter._2 - jiffiesBefore._2)
      else -1.0
    System.err.println(f"[bench] load $loadBefore%.2f → $loadAfter%.2f; " +
      f"steal $stealPct%.2f%%")
    val hostJson =
      s""","load_before":${fmt(loadBefore)},"load_after":${fmt(loadAfter)}""" +
        s""","steal_pct":${fmt(stealPct)}"""
    // Self-adjudicating headline (VERDICT r16 #1): `value` stays the
    // all-query total (backward-compatible), but the 2x gate is computed
    // from value_inband / n_inband ALONE — warm-protocol timings only;
    // value_degraded carries the budget-backstop cold tail separately.
    // BASELINE.md ("how to read the bench artifact") states this read.
    val degradedSet = degradedNames.toSet
    val degradedTail =
      if (degradedNames.isEmpty) "" else s""","degraded_tail":${degradedNames.size}"""
    val extra = degradedTail + hostJson
    try {
      // the FILE additionally carries the raw re-time samples of every
      // sampled query — the post-hoc diagnosis record VERDICT r10 #2 asked
      // for (a lone recorded number can't distinguish "one bad sample
      // among three" from "three sustained bad samples").
      val samplesJson =
        if (samplesLog.isEmpty) ""
        else s""","samples":${samplesLog.map { case (k, v) =>
          s"${jstr(k)}:${v.map(fmt).mkString("[", ",", "]")}"
        }.mkString("{", ",", "}")}"""
      // the per-query protocol marker (VERDICT r16 #1): the names of the
      // degraded tail, whose numbers in "queries" are cold single runs
      val degradedJson =
        if (degradedNames.isEmpty) ""
        else s""","degraded":${degradedNames.reverse.map(jstr).mkString("[", ",", "]")}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_full.json"),
        (recordLine(times, errors, sfDir, degradedSet,
          extra + samplesJson + degradedJson)() + "\n").getBytes("UTF-8"))
      // a completed sweep must not leave a stale partial behind to shadow
      // the final artifact (ADVICE r16)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get("bench_partial.json"))
    } catch { case _: Throwable => () } // best-effort; the stdout line is the contract
    println(contractLine(times, errors, sfDir, degradedSet, extra))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
