package graft.tools

import graft.{Sessions, SparkEntry}
import graft.obs.Collector

/** Per-stage profile of named gated queries under the Bench protocol
  * (warm-up run, then a timed `noop` sink): for every stage of the timed
  * run prints task count, executor run/CPU time, shuffle read/write bytes,
  * spill, and GC — the guide-§1 "where is the time actually going" read
  * (Stages tab + task metrics) for a UI-less box — and per run and in
  * total the generated classes compiled (codegen-cache misses).
  * Diagnosis tool, not gated surface.
  *
  * Usage: runMain graft.tools.QueryProfile <sfDir> q_a[,q_b,...] [--cold] [--sample]
  */
object QueryProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(',').toSeq)
      .getOrElse(sys.error("usage: QueryProfile <sfDir> q_a[,q_b,...]"))
    val cold = args.contains("--cold")
    val spark = Sessions.local("graft-profile")
    val collector = new Collector(spark)

    // In-process stack sampler (--sample): every 25 ms, histogram the top
    // interesting frame of every executor worker thread during the timed
    // run — the jstack read (guide §7.3) for a box where the attach
    // mechanism is unavailable. "Interesting" = first frame not in the
    // JDK's thread/park plumbing, plus the thread state and lock owner.
    val sample = args.contains("--sample")
    val frameHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      while (true) {
        if (sampling) {
          val infos = tmx.getThreadInfo(tmx.getAllThreadIds, 12)
          // "main" runs the driver-side action (plan construction,
          // analysis, cache lookups, job submission) — sample it too so
          // a wall≫task-time query shows WHERE the driver burns it
          infos.filter(i => i != null &&
              (i.getThreadName.startsWith("Executor task launch") ||
               i.getThreadName == "main")).foreach { i =>
            val st = i.getStackTrace
            val top = st.find(f =>
              !f.getClassName.startsWith("java.lang.Thread") &&
              !f.getClassName.startsWith("jdk.internal.misc.Unsafe") &&
              !f.getClassName.startsWith("java.util.concurrent.locks"))
              .map(f => s"${f.getClassName}.${f.getMethodName}")
              .getOrElse("<empty>")
            val lock = Option(i.getLockName).map(l =>
              " LOCK:" + l.takeWhile(_ != '@')).getOrElse("")
            // the first non-JDK/non-Spark frame names the call SITE
            val site = st.find(f => f.getClassName.startsWith("graft."))
              .map(f => s" <= ${f.getClassName.substring(6)}.${f.getMethodName}:${f.getLineNumber}")
              .getOrElse("")
            val key = s"${i.getThreadState}: $top$lock$site"
            frameHist.merge(key, 1, (a, b) => a + b)
          }
        }
        Thread.sleep(25)
      }
    })
    sampler.setDaemon(true)
    if (sample) sampler.start()

    var compiled = 0L
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n (see SparkEntry.queries)"))
      // construct = the lambda invocation: plan build + any eager driver
      // collects/persist registrations; action = the noop sink
      def run() = collector.traced(s"profile: $n")(fn(spark, sfDir))(
        _.write.mode("overwrite").format("noop").save())
      if (!cold) run() // warm-up, record discarded
      frameHist.clear()
      sampling = sample
      val r = run()
      sampling = false
      val sec = r.constructS + r.actionS
      compiled += r.classesCompiled
      println(f"\n════ $n: ${sec}%.3f s (timed run, ${r.stages.size} stages) ════")
      println(f"${"stage"}%5s ${"tasks"}%5s ${"wall_s"}%8s ${"run_s"}%8s " +
        f"${"cpu_s"}%8s ${"gc_s"}%6s ${"shR_MB"}%8s ${"shW_MB"}%8s " +
        f"${"in_MB"}%8s ${"spill"}%6s  name")
      def mb(bytes: Long) = bytes / 1048576.0
      r.stages.sortBy(-_.runMs).foreach { s =>
        println(f"${s.id}%5d ${s.tasks}%5d ${s.wallMs / 1000.0}%8.2f " +
          f"${s.runMs / 1000.0}%8.2f ${s.cpuMs / 1000.0}%8.2f " +
          f"${s.gcMs / 1000.0}%6.2f ${mb(s.shuffleReadBytes)}%8.2f " +
          f"${mb(s.shuffleWriteBytes)}%8.2f ${mb(s.inputBytes)}%8.2f " +
          f"${mb(s.spillBytes)}%6.1f  ${s.name.take(80)}")
      }
      val totRun = r.stages.map(_.runMs).sum / 1000.0
      val totCpu = r.stages.map(_.cpuMs).sum / 1000.0
      println(f"TOTAL run ${totRun}%.2f s cpu ${totCpu}%.2f s across " +
        f"${r.tasks} tasks; wall ${sec}%.3f s " +
        f"(construct ${r.constructS}%.3f s, action ${r.actionS}%.3f s); " +
        s"${r.classesCompiled} classes compiled")
      if (sample) {
        import scala.jdk.CollectionConverters._
        println("-- sampled worker frames (25 ms ticks) --")
        frameHist.asScala.toSeq.sortBy(-_._2.intValue).take(14).foreach {
          case (k, c) => println(f"$c%6d  $k")
        }
      }
      Sessions.releaseCaches(spark)
    }
    println(s"\nTOTAL ${names.size} timed runs: $compiled classes compiled")
    spark.stop()
  }
}
