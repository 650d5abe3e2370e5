package graft
import scala.collection.immutable.ListMap

/** Benchmark harness (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology — stateless: a published timing depends only on the
  * current run. Bench reads no file but `/proc` (host load and steal);
  * `bench_full.json` and `bench_partial.json` are outputs only.
  *  - every query is executed once untimed (warm-up: session/JIT/codegen,
  *    parquet footer cache) and then timed on a second full execution;
  *    a first timing of [[SampleAtSec]] or more is re-timed twice and the
  *    median of three published ([[settle]]);
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
  * With the 24 g bench heap GC can stay entirely absent for most of the
  * sweep, so this dead state accumulates until memory pressure finally
  * forces collection — INSIDE whichever unlucky late-sweep query is running
  * (r8: q_fingerprint/q_mi; r9: q_pagerank/q_regression — all sustained
  * through their median-of-3 re-times because the degraded state persisted
  * across the back-to-back timings). The harness therefore (a) unpersists
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

  /** Headline split (VERDICT r16 #1): the official artifact's single
    * `value` mixed warm-protocol timings with degraded-tail cold runs, so
    * a reader applying the 2× gate to a contended sweep got the wrong
    * answer (BENCH_r16: 1035.6 s headline, of which 247 unwarmed runs;
    * the six worst re-ran at 8.9 s vs their 464 s under the identical
    * harness). Returns (in-protocol seconds, degraded seconds) — the 2×
    * gate reads ONLY the first, against the in-protocol query count.
    */
  def splitHeadline(times: Map[String, Double],
                    degraded: Set[String]): (Double, Double) = {
    val (deg, in) = times.partition { case (k, _) => degraded(k) }
    (in.values.sum, deg.values.sum)
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

  /** Segmented sweep (VERDICT r17 #3): one global 1500 s budget made the
    * degraded tail all-or-nothing — the instant it expired, EVERY
    * remaining query ran cold (135/310 in r17), and one latent-stall JVM
    * poisoned everything after it (the r16 artifact-isolation episode).
    * The sweep now runs in segments of [[SegmentSize]] queries; each
    * segment gets a fresh SparkSession/SparkContext (clearing the
    * session/RPC/block-manager layer the latent mode lives in) and a
    * proportional slice of the REMAINING budget, so a stall or overrun
    * degrades at most its own segment's tail while later segments recover
    * with their own slices. Unused slice rolls forward automatically
    * (slices are computed from actual remaining budget at segment start);
    * a fully exhausted budget still degrades everything after it, exactly
    * as before — the mechanism bounds blast radius, it does not mint
    * extra wall-clock.
    */
  val SegmentSize = 20

  def segmentSlice(remainingBudget: Double, remainingQueries: Int,
                   segmentQueries: Int): Double =
    if (remainingQueries <= 0 || remainingBudget <= 0) 0.0
    else remainingBudget *
      (math.min(segmentQueries, remainingQueries).toDouble / remainingQueries)

  /** 1-minute load average from /proc/loadavg — sampled at sweep start,
    * sweep end, and after every degraded-tail run, so a contended sweep's
    * record carries the host's own story. Returns -1 when unreadable
    * (non-Linux).
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
    * chars are written. `inband` goes right after `value`, `extra` right
    * before `sf`.
    */
  def recordLine(times: Map[String, Double], errors: Map[String, String],
                 sfDir: String, inband: String, extra: String)(
      ts: Map[String, Double] = times, omitted: Int = 0,
      maxErrors: Int = Int.MaxValue, errLen: Int = 200): String = {
    val es = errors.take(maxErrors)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v.take(errLen))}" }
      .mkString("{", ",", "}")
    val eo = if (errors.size > maxErrors)
      s""","errors_omitted":${errors.size - maxErrors}""" else ""
    val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
    s"""{"metric":"total","value":${fmt(times.values.sum)}$inband,"unit":"sec","n_queries":${times.size},"queries":${jmap(ts)}$om,"errors":$es$eo,"failed":${errors.size}$extra,"sf":"$sfDir"}"""
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
                   sfDir: String, inband: String, extra: String): String = {
    def line(ts: Map[String, Double], omitted: Int, maxErrors: Int,
             errLen: Int): String =
      recordLine(times, errors, sfDir, inband, extra)(ts, omitted, maxErrors, errLen)
    val fullLine = recordLine(times, errors, sfDir, inband, extra)()
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
    var spark = Sessions.local("graft-bench")
    // fresh-context lever of the per-segment restarts: tears down the
    // SparkContext (executor pools, block manager, RPC env, codegen
    // classloaders) and rebuilds it — the layer every latent-stall
    // episode so far has lived in
    var restarts = 0
    def restartSession(why: String): Unit = {
      val t0 = System.nanoTime()
      spark.stop()
      spark = Sessions.local("graft-bench")
      restarts += 1
      System.err.println(
        f"[bench] fresh SparkSession ($why) in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    def runOnce(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    // Opt-in randomized query order (VERDICT r09 #4): the r8/r9 outliers
    // were all late-sweep — a seeded shuffle makes order-dependent
    // inflation measurable (two sweeps, different seeds, diff per-query)
    // instead of folklore. Unset → stable alphabetical order.
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.trim.toLong)
    // Opt-in subset (diagnosis only, unset for the gated sweep): a
    // comma-separated allowlist so a single slow query can be profiled
    // under the exact harness protocol (warm-up + timed noop sink +
    // cleanup) without paying the other queries' wall-clock.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val all = only match {
      case Some(sel) =>
        val missing = sel -- SparkEntry.benchQueries.toSet
        require(missing.isEmpty, s"unknown bench queries: ${missing.mkString(",")}")
        System.err.println(s"[bench] SUBSET of ${sel.size} queries (diagnosis mode)")
        SparkEntry.benchQueries.filter(sel)
      case None => SparkEntry.benchQueries
    }
    val names = seed match {
      case Some(s) =>
        System.err.println(s"[bench] randomized query order, seed=$s")
        new scala.util.Random(s).shuffle(all)
      case None => all
    }

    var times = ListMap.empty[String, Double]
    var errors = ListMap.empty[String, String]
    var samplesLog = ListMap.empty[String, Seq[Double]]
    var ran = 0
    def timedRun(name: String): Double = {
      val t0 = System.nanoTime()
      runOnce(name)
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
    // re-times — noisier tail numbers, but the sweep always completes and
    // the line always prints. The JSON records how many queries ran
    // degraded so the reader can discount their numbers.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .map(_.trim.toDouble).getOrElse(1500.0)
    val sweepStart = System.nanoTime()
    def sweepElapsed: Double = (System.nanoTime() - sweepStart) / 1e9
    // Degraded-tail record (VERDICT r16 #1 + ADVICE r16): every query that
    // ran past the budget is NAMED (the per-query protocol marker — a
    // query is in-protocol iff absent from this list), and each carries
    // the 1-min loadavg and the /proc/stat steal%% measured ACROSS ITS OWN
    // RUN, so a contended tail is diagnosable per query, not just in
    // aggregate.
    var degradedNames = List.empty[String]
    var loadAtDegraded = ListMap.empty[String, Double]
    var stealAtDegraded = ListMap.empty[String, Double]
    // Incremental partial record (VERDICT r15 #1): a killed sweep used to
    // leave nothing parsable. A short running-total line goes to stderr
    // every [[PartialEvery]] queries (stdout keeps the one-line contract),
    // and bench_partial.json carries the full running per-query map; both
    // are [[recordLine]]s marked `"partial":true`.
    val PartialEvery = 25
    val partial = ""","partial":true"""
    def partialLine: String =
      recordLine(times, errors, sfDir, "", partial)(ListMap.empty, times.size, maxErrors = 0)
    def writePartial(): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_partial.json"),
        (recordLine(times, errors, sfDir, "", partial)() + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    // Segmented sweep (VERDICT r17 #3) — see [[SegmentSize]]: each
    // segment gets a fresh SparkSession and a proportional slice of the
    // remaining budget; overruns degrade only the segment's own tail.
    val segments = names.grouped(SegmentSize).toList
    var queriesDone = 0
    segments.zipWithIndex.foreach { case (segment, segIdx) =>
      if (segIdx > 0) restartSession(s"segment ${segIdx + 1}/${segments.size}")
      val slice = segmentSlice(budgetSec - sweepElapsed,
        names.size - queriesDone, segment.size)
      val segStart = System.nanoTime()
      def segElapsed: Double = (System.nanoTime() - segStart) / 1e9
      segment.foreach { name =>
        queriesDone += 1
        try {
          if (segElapsed > slice) {
            degradedNames ::= name
            val j0 = cpuJiffies()
            times += name -> timedRun(name)
            val j1 = cpuJiffies()
            loadAtDegraded += name -> loadAvg1m()
            stealAtDegraded += name ->
              (if (j0._2 >= 0 && j1._2 > j0._2)
                 100.0 * (j1._1 - j0._1) / (j1._2 - j0._2)
               else -1.0)
          } else {
            runOnce(name) // warm-up, untimed
            val (t, samples) = settle(timedRun(name), () => timedRun(name))
            if (samples.size > 1) samplesLog += name -> samples
            times += name -> t
          }
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
    }
    val seedJson = seed.map(s => s""","seed":$s""").getOrElse("")
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
    val (valInband, valDegraded) = splitHeadline(times, degradedSet)
    val inbandJson =
      if (degradedNames.isEmpty) ""
      else s""","value_inband":${fmt(valInband)},"n_inband":${inbandCount(times, degradedSet)},"value_degraded":${fmt(valDegraded)}"""
    val degradedTail =
      if (degradedNames.isEmpty) "" else s""","degraded_tail":${degradedNames.size}"""
    val extra = degradedTail + seedJson + hostJson
    try {
      // the FILE additionally carries the raw re-time samples of every
      // sampled query — the post-hoc diagnosis record VERDICT r10 #2 asked
      // for (a lone recorded number can't distinguish "one bad sample
      // among three" from "three sustained bad samples"). A diagnosis
      // subset never writes it.
      val samplesJson =
        if (samplesLog.isEmpty) ""
        else s""","samples":${samplesLog.map { case (k, v) =>
          s"${jstr(k)}:${v.map(fmt).mkString("[", ",", "]")}"
        }.mkString("{", ",", "}")}"""
      // the per-query protocol marker + per-query host evidence for the
      // degraded tail (VERDICT r16 #1 / ADVICE r16): names, 1-min load,
      // and own-run steal%% — so every cold number in "queries" is
      // individually attributable to host state, not sweep order
      val degradedJson =
        if (degradedNames.isEmpty) ""
        else s""","degraded":${degradedNames.reverse.map(jstr).mkString("[", ",", "]")}""" +
          s""","load_at_degraded":${jmap(loadAtDegraded)}""" +
          s""","steal_at_degraded":${jmap(stealAtDegraded)}"""
      val segJson = s""","segments":${segments.size},"session_restarts":$restarts"""
      if (only.isEmpty) java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_full.json"),
        (recordLine(times, errors, sfDir, inbandJson,
          extra + segJson + samplesJson + degradedJson)() + "\n").getBytes("UTF-8"))
      // a completed sweep must not leave a stale partial behind to shadow
      // the final artifact (ADVICE r16)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get("bench_partial.json"))
    } catch { case _: Throwable => () } // best-effort; the stdout line is the contract
    println(contractLine(times, errors, sfDir, inbandJson, extra))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
