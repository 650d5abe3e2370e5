package graft

import scala.jdk.CollectionConverters._

/** Pins the semantics- and pathology-critical session conf that every
  * entry point inherits through Sessions.builder — a silent conf loss
  * here reverts a measured engine fix without failing any oracle.
  */
class SessionConfSpec extends SparkSpec {

  test("artifact isolation stays OFF (codegen classload RPC pathology, r16)") {
    // Spark 4's per-session artifact classloader routes janino codegen
    // class probes through a blocking Netty file-download RPC; a bench
    // sweep jstack showed executor threads pinned there with the whole
    // JVM ~2.5× slow. This engine registers no session
    // artifacts — the flag must stay off.
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "false")
  }

  test("semantics conf: UTC, AQE, nanosAsLong, graft extensions") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.extensions")
      .contains("graft.expr.GraftExtensions"))
  }

  test("AQE may right-size cached-plan partitioning (r19)") {
    // off by default: a persisted relation freezes its pre-AQE shuffle
    // partition count, so KB-sized cached relations are re-read as
    // shuffle.partitions tasks by every downstream stage — measured as
    // 40+ stages of 32 tasks over <1 MB in the dedup family's timed runs
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
  }

  test("the codegen cache holds a whole sweep's generated classes") {
    // at the default 100 entries a warm 312-query sf0.01 sweep recompiled
    // 7,959 of its 8,001 classes; the sweep compiles 4,580 distinct ones
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt >= 10000)
  }

  test("tmpfs shuffle dir is guarded by a free-space floor (VERDICT r18 #4)") {
    // tmpfs pages are memory: a box whose /dev/shm has less usable space
    // than the floor must fall back to Spark's default local dir instead
    // of turning shuffle writes into memory pressure
    val tmp = java.nio.file.Files.createTempDirectory("shm-guard").toFile
    try {
      assert(Sessions.shmEligible(tmp) ===
        (tmp.getUsableSpace >= Sessions.ShmMinFreeBytes))
      assert(!Sessions.shmEligible(new java.io.File(tmp, "missing")))
      assert(Sessions.ShmMinFreeBytes >= 1L * 1024 * 1024 * 1024)
    } finally { tmp.delete(); () }
  }

  test("env surface: the engine reads exactly four environment variables") {
    // every knob doubles the configurations tests and benchmarks must
    // cover, so a new env read has to change this list to get in
    val src = java.nio.file.Paths.get("src/main")
    requireFixtures(src.toString)
    val texts = scala.util.Using.resource(java.nio.file.Files.walk(src)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.map(f => new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8))
    val anyRead = """sys\.env|System\.getenv""".r
    val namedRead =
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([^"]*)"""".r
    val names = texts.flatMap(t => namedRead.findAllMatchIn(t).map(_.group(1)))
    assert(texts.map(t => anyRead.findAllIn(t).size).sum === names.size,
      "every env read names its variable as a literal")
    assert(names.toSet === Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_BUDGET", "SPARK_GRAFT_LOCAL_DIR"))
  }
}
