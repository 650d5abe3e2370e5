package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, explode, lit}
import graft.{Sessions, SparkEntry, Tables}
import graft.tok.Tokenizer
import graft.wc.WordCount

/** One benchmark run in one JVM: `--workload wc_zipf|wc_unique|query_mix`.
  *
  * A single client drives one `local[cpus]` session in a closed loop: each
  * operation starts when the previous one has finished. Setup (session
  * construction plus one untimed warm-up pass) is repeated `--setups`
  * times; the last session then runs timed passes until `--seconds` have
  * elapsed. With `--trace 1` the same loop runs under the [[Collector]] and
  * per-layer probes follow it. The run writes its figures to `--result`.
  *
  * `--workload list-queries` prints every 10th name of
  * `SparkEntry.benchQueries` (the list `query_mix` freezes);
  * `--workload oracle-sql` prints the oracle SQL of the frozen list as JSON.
  */
object Main {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
    o("workload") match {
      case "list-queries" =>
        SparkEntry.benchQueries.zipWithIndex.collect { case (n, i) if i % 10 == 0 => n }.foreach(println)
      case "oracle-sql" =>
        val oracles = SparkEntry.oracleSql
        println(Json.value(readList(o("query-list")).flatMap(n => oracles.get(n).map(n -> _)).toMap))
      case w => new Run(w, o).run()
    }
  }

  def readList(path: String): Seq[String] =
    Files.readAllLines(new File(path).toPath).toArray(new Array[String](0)).toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile (at most the 90th) with at least ten samples
    * beyond it; the largest sample when there are fewer than eleven. */
  def highPercentile(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val p = math.min(0.9, math.max(0.0, 1.0 - 10.0 / s.size))
    val idx = math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1))
    (if (s.size < 11) s.last else s(idx), if (s.size < 11) 1.0 else p)
  }

  def peakRssMb: Double = {
    val line = Files.readAllLines(new File("/proc/self/status").toPath).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

/** One timed operation's outcome. */
final case class Op(seconds: Double, ok: Boolean)

final class Run(workload: String, o: Main.Opts) {
  import Main._

  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble
  private val traceOn = o.get("trace", "0") == "1"
  private val work = new File(o("work"))
  private val fixtures = o("fixtures")
  private val cpus = o.get("cpus", "4").toInt
  private val setups = o.get("setups", "1").toInt
  private val log = (s: String) => System.err.println(s"[perfbench] $s")

  private var spark: SparkSession = _
  private var collector: Option[Collector] = None
  /** Pass index of the ladder's operations in the trace. */
  private val Ladder = -2
  /** Share of traced wall time that may fall outside construction,
    * Catalyst phases and jobs (AQE re-planning between stages, sink setup,
    * job submission) before the split is reported as unreconciled. */
  private val UnattributedTolerance = 0.35
  /** Largest relative gap between the ladder's full-job rung and the same
    * job timed outside the ladder (run-to-run noise of a few-second job). */
  private val LadderTolerance = 0.15
  private val records = mutable.ArrayBuffer.empty[(Int, OpRecord)]
  private var failed = 0
  private var attempted = 0
  private val notes = mutable.LinkedHashMap.empty[String, Any]

  private def newSession(threads: Int): Double = {
    val t0 = System.nanoTime()
    spark = Sessions.builder(s"perfbench-$workload", threads.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    secs(t0)
  }

  /** Times one operation: construction, then the action on what it built.
    * Traced runs record it through the collector under `pass`. */
  private def op[T](name: String, kind: String, pass: Int)(construct: => T)(action: T => Unit): Double =
    collector match {
      case Some(c) =>
        val r = c.traced(name, kind)(construct)(action)
        records += pass -> r
        r.wallS
      case None =>
        val t0 = System.nanoTime()
        action(construct)
        secs(t0)
    }

  // ---- workloads -----------------------------------------------------

  private trait Workload {
    /** One untimed warm-up pass (its outputs are checked). */
    def warmup(): Unit
    /** One timed pass over the workload's operation list. */
    def pass(i: Int): Seq[Op]
  }

  private final class WcWorkload(dir: File, expected: Corpus.Expected) extends Workload {
    private val out = new File(work, s"wc-out-$workload")
    def inputBytes: Long = expected.bytes
    private def job(pass: Int): Op = {
      attempted += 1
      val t = op(s"wc#$pass", "wc", pass)(WordCount.fromDirectory(spark, dir.getPath))(
        df => WordCount.writeCsv(df, out.getPath))
      val ok = CsvCheck(out, expected) match {
        case None => true
        case Some(err) => log(s"wc output check failed: $err"); failed += 1; false
      }
      Op(t, ok)
    }
    def warmup(): Unit = job(-1)
    def pass(i: Int): Seq[Op] = Seq(job(i))
  }

  private final class MixWorkload(names: Seq[String]) extends Workload {
    private val outDir = new File(work, "mix-out")
    val warmFailed = mutable.ArrayBuffer.empty[String]
    private def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    /** The warm-up round writes each result as parquet for the digest check. */
    def warmup(): Unit = {
      Corpus.deleteRecursively(outDir)
      names.foreach { n =>
        attempted += 1
        try {
          SparkEntry.queries(n)(spark, fixtures)
            .coalesce(1).write.mode("overwrite").parquet(new File(outDir, n).getPath)
        } catch { case e: Throwable =>
          log(s"$n failed in warm-up: $e"); failed += 1; warmFailed += n
        } finally cleanup()
      }
    }
    def pass(i: Int): Seq[Op] = {
      val order = new scala.util.Random(seed * 1000003L + i).shuffle(names)
      order.map { n =>
        attempted += 1
        try {
          val t = op(s"$n#$i", "query", i)(SparkEntry.queries(n)(spark, fixtures))(
            _.write.mode("overwrite").format("noop").save())
          Op(t, ok = true)
        } catch { case e: Throwable =>
          log(s"$n failed: $e"); failed += 1; Op(Double.NaN, ok = false)
        } finally cleanup()
      }
    }
  }

  // ---- the run -------------------------------------------------------

  def run(): Unit = {
    work.mkdirs()
    val corpora = new File(work, "corpus")
    val t0 = System.nanoTime()
    val wl: Workload = workload match {
      case "wc_zipf" | "wc_unique" =>
        val (dir, e) = Corpus.ensure(corpora, workload.stripPrefix("wc_"), seed)
        notes("corpus") = Json.Raw(e.json)
        new WcWorkload(dir, e)
      case "query_mix" => new MixWorkload(readList(o("query-list")))
      case other => sys.error(s"unknown workload $other")
    }
    notes("generate_s") = secs(t0)
    log(f"inputs ready in ${secs(t0)}%.1f s")

    val builds = mutable.ArrayBuffer.empty[Double]
    val setupTimes = (1 to setups).map { _ =>
      if (spark != null) spark.stop()
      val t = System.nanoTime()
      builds += newSession(cpus)
      wl.warmup()
      secs(t)
    }
    log(f"setup ${setupTimes.map(s => f"$s%.2f").mkString(" ")} s")

    val tracer = if (traceOn) Some(new Collector(spark).register()) else None
    collector = tracer
    val tablesMs = if (traceOn) tablesProbe() else Nil

    val passTimes = mutable.ArrayBuffer.empty[Double]
    val opTimes = mutable.ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    var i = 0
    while (i == 0 || secs(loop0) < seconds) {
      val t = System.nanoTime()
      val ops = wl.pass(i)
      passTimes += secs(t)
      opTimes ++= ops.filter(_.ok).map(_.seconds)
      i += 1
    }
    log(f"$i passes, median ${median(passTimes.toSeq)}%.3f s")

    val (p90, p90q) = highPercentile(opTimes.toSeq)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setupTimes) -> "s"),
      "pass_s" -> (median(passTimes.toSeq) -> "s"),
      "op_p50_s" -> (median(opTimes.toSeq) -> "s"),
      "op_p90_s" -> (p90 -> "s"),
      "peak_rss_mb" -> (peakRssMb -> "MB"))
    val named = mutable.LinkedHashMap.empty[String, (Double, String)]
    wl match {
      case w: WcWorkload => named("wc_mb_s") = (w.inputBytes / 1e6 / median(passTimes.toSeq)) -> "MB/s"
      case _ =>
        named("mix_round_s") = median(passTimes.toSeq) -> "s"
        named("query_p50_s") = median(opTimes.toSeq) -> "s"
        named("query_p90_s") = p90 -> "s"
    }
    named("setup_s") = e2e("setup_s")
    named("peak_rss_mb") = e2e("peak_rss_mb")

    notes("pass_each_s") = passTimes.toSeq
    notes("ops_timed") = opTimes.size
    notes("op_high_percentile") = p90q
    notes("setup_each_s") = setupTimes
    notes("session_build_each_s") = builds.toSeq
    wl match {
      case m: MixWorkload => notes("warm_failed") = m.warmFailed.toSeq
      case _ =>
    }

    val perLayer: Map[String, (Double, String)] =
      if (traceOn) layers(wl, builds.toSeq, tablesMs, passTimes.toSeq) else Map.empty
    tracer.foreach(writeTrace)
    if (spark != null) spark.stop()

    def render(m: scala.collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> traceOn,
      "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> render(e2e), "named" -> render(named),
      "per_layer" -> render(perLayer), "notes" -> notes.toMap)
    Files.writeString(new File(o("result")).toPath, result)
  }

  // ---- traced-run probes --------------------------------------------

  /** `Tables.table` schema resolution per fixture, median of three, ms. */
  private def tablesProbe(): Seq[Double] =
    Option(new File(fixtures).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).map { f =>
        val name = f.getName.stripSuffix(".parquet")
        median((1 to 3).map { _ =>
          val t = System.nanoTime()
          Tables.table(spark, fixtures, name)
          secs(t) * 1e3
        })
      }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** The word-count ladder: each rung adds one layer to the one before,
    * ending with the full job; median of three runs per rung, s. */
  private def ladder(dir: String): Map[String, Double] = {
    def tokens = spark.read.text(dir).select(explode(Tokenizer.lowerTokens(col("value"))).as("word"))
    val out = new File(work, "ladder-out").getPath
    val rungs = Seq[(String, () => DataFrame, DataFrame => Unit)](
      ("scan", () => spark.read.text(dir), noop),
      ("tokenize", () => tokens, noop),
      ("aggregate", () => tokens.groupBy("word").agg(count(lit(1)).as("cnt")), noop),
      ("sort", () => WordCount.fromDirectory(spark, dir), noop),
      ("sink", () => WordCount.fromDirectory(spark, dir), WordCount.writeCsv(_, out)))
    rungs.map { case (n, df, sink) =>
      n -> median((1 to 3).map(i => op(s"ladder.$n#$i", "ladder", Ladder)(df())(sink)))
    }.toMap
  }

  /** MB/s of the full job over a fixed prefix at `threads` threads, in a
    * fresh session: one warm-up, then the median of three timed runs. */
  private def scaling(dir: String, bytes: Long, threads: Int): Double = {
    spark.stop()
    newSession(threads)
    val out = new File(work, "scaling-out").getPath
    def once(): Double = {
      val t = System.nanoTime()
      WordCount.writeCsv(WordCount.fromDirectory(spark, dir), out)
      secs(t)
    }
    once()
    bytes / 1e6 / median(Seq(once(), once(), once()))
  }

  private def layers(wl: Workload, builds: Seq[Double], tablesMs: Seq[Double],
                     passTimes: Seq[Double]): Map[String, (Double, String)] = {
    val timed = records.filter(_._1 >= 0).toSeq
    val unattributed = timed.map(_._2.unattributedS).sum / timed.map(_._2.wallS).sum
    val byPass = timed.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    def perPass(f: Seq[OpRecord] => Double): Double = median(byPass.map(f))
    def sum(f: OpRecord => Double): Seq[OpRecord] => Double = rs => rs.map(f).sum
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    m("Sessions.build_s") = median(builds) -> "s"
    m("Tables.open_ms") = (tablesMs.sum / math.max(1, tablesMs.size)) -> "ms"
    m("queries.construct_s") = perPass(sum(_.constructS)) -> "s"
    m("catalyst.analysis_s") = perPass(sum(_.analysisS)) -> "s"
    m("catalyst.optimization_s") = perPass(sum(_.optimizationS)) -> "s"
    m("catalyst.planning_s") = perPass(sum(_.planningS)) -> "s"
    m("exec.wall_s") = perPass(sum(_.execS)) -> "s"
    m("exec.jobs") = perPass(sum(_.jobs.toDouble)) -> "count"
    m("exec.stages") = perPass(sum(_.stages.toDouble)) -> "count"
    m("exec.tasks") = perPass(sum(_.tasks.toDouble)) -> "count"
    m("exec.tasks_per_stage") = perPass(rs => rs.map(_.tasks).sum.toDouble / math.max(1, rs.map(_.stages).sum)) -> "count"
    m("exec.task_run_s") = perPass(sum(_.taskRunS)) -> "s"
    m("exec.task_cpu_s") = perPass(sum(_.taskCpuS)) -> "s"
    m("exec.gc_s") = perPass(sum(_.gcS)) -> "s"
    m("exec.max_task_skew") = perPass(rs => rs.map(_.maxTaskSkew).max) -> "ratio"
    m("exec.idle_core_frac") = perPass(rs =>
      1.0 - rs.map(_.taskRunS).sum / (rs.map(_.wallS).sum * cpus)) -> "fraction"
    m("shuffle.write_bytes") = perPass(sum(_.shuffleWriteBytes.toDouble)) -> "bytes"
    m("shuffle.read_bytes") = perPass(sum(_.shuffleReadBytes.toDouble)) -> "bytes"
    m("shuffle.records") = perPass(sum(_.shuffleRecords.toDouble)) -> "count"
    m("spill.bytes") = perPass(sum(_.spillBytes.toDouble)) -> "bytes"
    m("reconcile.unattributed_frac") = unattributed -> "fraction"
    notes("reconciled") = unattributed <= UnattributedTolerance

    // word-count layers: on the workload's own corpus for wc_*, on a fixed
    // wc_zipf prefix for query_mix
    val corpora = new File(work, "corpus")
    val (wcDir, wcBytes, wcFiles) = wl match {
      case w: WcWorkload =>
        val d = new File(corpora, Corpus.spec(workload.stripPrefix("wc_")).name(seed))
        (d.getPath, w.inputBytes, Corpus.textFiles(d).size)
      case _ =>
        val (d, b) = Corpus.prefix(corpora, "zipf", seed, 2)
        (d.getPath, b, 2)
    }
    val rung = ladder(wcDir)
    val ladderRecs = records.filter(_._1 == Ladder).map(_._2)
    m("wc.scan_s") = rung("scan") -> "s"
    m("tok.tokenize_s") = (rung("tokenize") - rung("scan")) -> "s"
    m("wc.aggregate_s") = (rung("aggregate") - rung("tokenize")) -> "s"
    m("wc.sort_s") = (rung("sort") - rung("aggregate")) -> "s"
    m("wc.sink_s") = (rung("sink") - rung("sort")) -> "s"
    val jobRec = ladderRecs.find(_.op.startsWith("ladder.sink")).get
    m("wc.combine_ratio") = (jobRec.partialAggRows.toDouble / math.max(1L, jobRec.generatedRows)) -> "ratio"
    m("wc.files") = wcFiles.toDouble -> "count"
    m("wc.input_bytes") = wcBytes.toDouble -> "bytes"

    collector.foreach(_.unregister())
    collector = None
    val (pDir, pBytes) = Corpus.prefix(corpora, "zipf", seed, 2)
    for (t <- Seq(1, 2, 4)) m(s"wc.mb_s_${t}t") = scaling(pDir.getPath, pBytes, t) -> "MB/s"
    // the ladder's last rung is the full job: compare it with the job as
    // timed outside the ladder (the timed passes, or the 4-thread prefix run)
    val jobS = wl match {
      case _: WcWorkload => median(passTimes)
      case _ => pBytes / 1e6 / m("wc.mb_s_4t")._1
    }
    val gap = (rung("sink") - jobS) / jobS
    m("reconcile.ladder_gap_frac") = gap -> "fraction"
    notes("ladder_reconciled") = math.abs(gap) <= LadderTolerance
    m.toMap
  }

  private def writeTrace(c: Collector): Unit = {
    val dir = new File(work, "trace")
    dir.mkdirs()
    val base = s"$workload-$seed"
    Files.writeString(new File(dir, s"$base.ops.jsonl").toPath,
      records.map { case (p, r) => r.json.dropRight(1) + s""","pass":$p}""" }.mkString("", "\n", "\n"))
    Files.writeString(new File(dir, s"$base.spans.jsonl").toPath,
      c.spans.map(_.json).mkString("", "\n", "\n"))
  }
}

/** Checks a word-count CSV directory against the generator's expectation:
  * one part file, header `Word,Count`, strictly ascending binary word
  * order, and the digest, row count and token total of the rows. */
object CsvCheck {
  def apply(out: File, e: Corpus.Expected): Option[String] = {
    val parts = Option(out.listFiles()).toSeq.flatten.filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    if (parts.size != 1) return Some(s"${parts.size} part files")
    val bytes = Files.readAllBytes(parts.head.toPath)
    val d = new Corpus.RowDigest
    var pos = 0
    var line = 0
    var prev: Array[Byte] = null
    var rows, tokens = 0L
    while (pos < bytes.length) {
      var end = pos
      while (end < bytes.length && bytes(end) != '\n') end += 1
      val l = java.util.Arrays.copyOfRange(bytes, pos, end)
      if (line == 0) {
        if (new String(l, UTF_8) != "Word,Count") return Some(s"header ${new String(l, UTF_8)}")
      } else {
        val comma = l.lastIndexOf(','.toByte)
        if (comma <= 0) return Some(s"malformed line $line")
        val w = java.util.Arrays.copyOfRange(l, 0, comma)
        val c = new String(l, comma + 1, l.length - comma - 1, UTF_8).toLong
        if (prev != null && java.util.Arrays.compareUnsigned(prev, w) >= 0)
          return Some(s"line $line out of order")
        d.add(w, c)
        prev = w
        rows += 1
        tokens += c
      }
      line += 1
      pos = end + 1
    }
    if (rows != e.distinct) Some(s"$rows rows, expected ${e.distinct}")
    else if (tokens != e.tokens) Some(s"$tokens tokens, expected ${e.tokens}")
    else if (d.hex != e.digest) Some("digest mismatch")
    else None
  }
}
