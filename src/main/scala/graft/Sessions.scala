package graft

import org.apache.spark.sql.SparkSession

/** One place to construct the engine's SparkSession so every entry point
  * (Verify, Bench, CLI, tests) runs with identical semantics-affecting conf.
  *
  * Scale posture: shuffle partitions default to the local core count here
  * (local[32] single-JVM); on a real cluster the same builder is used with
  * AQE coalescing enabled, which right-sizes post-shuffle partitions at
  * runtime, so the static number only seeds the initial plan.
  */
object Sessions {

  /** Shuffle/spill local directory: the fastest local storage available
    * (standard ops practice — shuffle write/commit is metadata-heavy and
    * the guide's §2.1 notes local disk can be the tighter limit). On this
    * box /tmp is disk-backed ext4 whose create+commit under 32-way task
    * concurrency sampled at ~8 ms/open (FileOutputStream.open0 +
    * IndexShuffleBlockResolver commit were the dominant frames of the
    * whole post-shuffle tail after the r18 scan widening); tmpfs creates
    * are 23× faster single-threaded and lock-free-er concurrent. Env
    * SPARK_GRAFT_LOCAL_DIR overrides; unset + no /dev/shm → Spark's
    * default (java.io.tmpdir). A real cluster sets spark.local.dir to
    * NVMe/ramdisk the same way.
    */
  /** Minimum usable /dev/shm bytes before the tmpfs shuffle default is
    * taken (VERDICT r18 #4): tmpfs pages ARE memory, so on a small or
    * already-pressured box routing spill-heavy shuffle writes there turns
    * disk pressure into memory pressure. 4 GiB covers the fixture sweeps
    * (shuffle volume ≪ 1 GiB) with wide margin while refusing boxes where
    * the win could not possibly be safe; production boxes set
    * SPARK_GRAFT_LOCAL_DIR (NVMe/ramdisk) explicitly and skip the guard.
    */
  private[graft] val ShmMinFreeBytes: Long = 4L * 1024 * 1024 * 1024

  private[graft] def shmEligible(dir: java.io.File): Boolean =
    dir.isDirectory && dir.canWrite && dir.getUsableSpace >= ShmMinFreeBytes

  private def localDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty).orElse {
      if (shmEligible(new java.io.File("/dev/shm")))
        Some("/dev/shm/graft-spark-local")
      else None
    }

  def builder(appName: String, cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // native engine expressions (float_vec_dot, …)
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      // events.parquet carries ns timestamps; read them as raw longs
      // session-wide (Tables.events does the µs truncation). Set once here,
      // never mutated mid-session (ADVICE r01).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the SQL-listener plan description is generated EAGERLY for every
      // action even with the UI off, and the default "formatted" mode
      // (ExplainUtils.generateOperatorIDs) re-walks shared subtrees per
      // PATH — on iterative queries whose persisted layers nest
      // InMemoryRelations (BPE rounds, dangling PageRank) that walk is
      // exponential and was measured dominating entire actions. "simple"
      // skips operator-ID generation; explain("formatted") on demand is
      // unaffected.
      .config("spark.sql.ui.explainMode", "simple")
      // belt-and-braces bound on any plan string the session does render
      .config("spark.sql.maxPlanStringLength", "100000")
      // Spark 4 session-artifact isolation wraps every executor task
      // classloader in an RPC-fetching loader (replClassURI = spark://…)
      // even when a session never adds an artifact. Janino codegen
      // compilation probes HUNDREDS of candidate class names per
      // generated class; every miss then walks
      // ExecutorClassLoader.findClassLocally → a blocking Netty
      // file-download RPC → ClassNotFound. jstack'd during a degraded
      // r16 bench sweep: executor threads pinned in
      // NettyRpcEnv$FileDownloadChannel.read under janino findIClass,
      // whole-JVM ~2.5× slowdown with an idle box and clean cpu probes
      // (BASELINE.md r16). This engine registers no session artifacts —
      // disable the isolation so codegen class resolution stays
      // in-process.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Let AQE right-size partitioning INSIDE cached plans too (off by
      // default for plan-reuse stability): without it every persisted
      // relation freezes its pre-AQE shuffle partition count, so a
      // KB-sized cached label/bucket/edge relation is re-read as
      // shuffle.partitions tasks by every downstream stage — the dedup
      // family's timed runs were 40+ stages of 32 tasks over <1 MB
      // (pure scheduling overhead at fixture scale, and at cluster
      // scale the same flag lets AQE right-size a cache that turned
      // out smaller than planned). Guide §2: derive partitioning from
      // data size at runtime, not from a constant.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Companion floor: parallelismFirst coalescing targets
      // max(bytes/parallelism, minPartitionSize), and the 1 MiB default
      // floor collapses compute-DENSE small relations (pageRank's edge
      // cache, LSH bucket relations — few MB of bytes, lots of per-row
      // work) to 1-3 tasks. 256 KiB keeps KB-scale label relations
      // collapsed while giving MB-scale compute-dense caches back their
      // width (A/B: q_pagerank/q_lsh_recall regressions from the flag
      // above halve; dedup-family wins keep).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "256k")
    localDir.fold(b)(d => b.config("spark.local.dir", d))
  }

  /** Drops everything a query run persisted, so the next query starts from
    * a clean storage state. `catalog.clearCache()` empties only the SQL
    * cache manager; `localCheckpoint` RDDs (dedup components, BPE rounds,
    * dangling PageRank) are RDD-level persists that would otherwise hold
    * block-manager memory until ContextCleaner sees a GC (see [[Bench]]).
    * The unpersist blocks, so the release is complete on return.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
