package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table readers (TESTDATA.md / FIXTURES.md §B).
  *
  * All query entry points take a scale-factor directory and read parquet —
  * the engine's scan path is Spark's columnar `FileSourceScanExec`, so column
  * pruning and predicate pushdown reach the footer for free (SURVEY §4).
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Ceiling below which [[parTable]] widens an unsplittable scan. 256 MiB
    * ≈ one production scan split: any table bigger than that has enough
    * row groups/files for Spark's own byte-range splitting, so the
    * repartition never exists at real scale.
    */
  private val ParScanMaxBytes: Long = 256L * 1024 * 1024

  /** [[table]] plus unsplittable-small-scan parallelization (optimization
    * guide §2.5: "one huge unsplittable file … repartition immediately
    * after the read").
    *
    * The fixtures write ONE parquet row group per file, and parquet can
    * only split at row-group boundaries — so no matter what
    * maxPartitionBytes / minPartitionNum say, Spark runs these scans as
    * one task per file, and every NARROW pipeline downstream (tokenize +
    * n-gram hashing, LSH signatures, decimal moments, payload synthesis)
    * inherits that width while the other 31 cores idle. Measured before
    * the fix (QueryProfile, sf0.1/local[32]): q_knn_ci's dominant stage =
    * ONE task, 3.07 s of 4.9 s wall; q_bootstrap_ci ONE task 2.39 s;
    * q_partial_corr/q_ols2 3 tasks.
    *
    * The round-robin exchange is applied ONLY when the table's on-disk
    * bytes are below [[ParScanMaxBytes]] — i.e. the whole table is
    * smaller than one production scan split. At any real scale the
    * reader is the plain scan and this exchange does not exist, so the
    * lever cannot regress a 100 TB plan; at fixture scale it costs one
    * tiny local shuffle and restores full-width parallelism. Correctness
    * is partition-count-invariant by the engine's own discipline (every
    * reduction is decimal-exact or integer; the oracle gate re-proves it
    * at 8 and 2 cores each round).
    */
  /** Floor below which widening is pure overhead: a table this small is
    * broadcast-join / single-task material (nation, region) — an exchange
    * in front of it just adds a stage and shuffle files before the
    * planner broadcasts it anyway (measured: q_tpch_q5/q18 +0.2 s from
    * dimension-table exchanges). */
  private val ParScanMinBytes: Long = 64L * 1024

  def parTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = table(spark, dir, name)
    val f = new java.io.File(s"$dir/$name.parquet")
    // directories (partitioned/derived fixtures) already scan in parallel
    if (f.isFile && f.length <= ParScanMaxBytes && f.length >= ParScanMinBytes)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  /** `events.parquet` has shipped `ts` two ways across fixture
    * generations, and this reader adapts to both by SCHEMA, not by path:
    *
    *  - nanosecond parquet timestamps, which Spark 4 rejects by default;
    *    session builders set `spark.sql.legacy.parquet.nanosAsLong=true`
    *    (see [[Sessions.builder]]) so the column arrives as raw LONG
    *    nanos, truncated here to microseconds — the same truncation
    *    DuckDB applies, keeping oracle parity. The division must be
    *    integral: long/long in Spark coerces to double, and ns-epoch
    *    values (~1.7e18) exceed double's 2^53 mantissa, silently
    *    corrupting ~12% of values.
    *  - native microsecond timestamps (isAdjustedToUTC=false), which
    *    Spark reads as TIMESTAMP_NTZ directly — no truncation needed
    *    (DuckDB reads the same µs values).
    *
    * Either way the column is surfaced as TIMESTAMP_NTZ (session TZ is
    * UTC) so parquet round-trips compare naive-to-naive.
    *
    * The LongType branch ASSUMES the raw values are ns-since-epoch (that
    * is the only LONG-ts fixture generation that has existed), and
    * enforces the assumption by magnitude (ADVICE r10): ns epochs for any
    * plausible fixture date are ≥ 1e17 (≈ 1973-03) while µs epochs are
    * ~1.7e15 — a future fixture shipping µs-as-plain-INT64 (no timestamp
    * logical type) would otherwise be silently divided by 1000 into 1970.
    * The guard is a narrow per-row `when` inside the same projection —
    * no extra pass, fails the read loudly.
    */
  def events(spark: SparkSession, dir: String, widen: Boolean = true): DataFrame = {
    // widen=false: for consumers whose first post-scan operator is already
    // an exchange (e.g. q_cohend's user-keyed aggregate) the parTable
    // round-robin widen is strictly upstream of another shuffle and the
    // r18 sweep pair measured it as pure overhead there (+0.58 s).
    val raw = if (widen) parTable(spark, dir, "events")
              else table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // legacy ns-as-long fixture
        raw.withColumn("__ts_ns",
            when(col("ts").isNull || col("ts") >= 100000000000000000L, col("ts"))
              .otherwise(raise_error(concat(
                lit("events.ts INT64 value "), col("ts").cast("string"),
                lit(" is too small to be ns-since-epoch (< 1e17): the fixture"),
                lit(" likely ships µs-as-INT64 without the timestamp logical"),
                lit(" type — refusing the ns->µs division")))))
          .withColumn("ts", // integral div: long/long via `/` coerces to
            // double, and ns epochs exceed double's 2^53 mantissa
            timestamp_micros(expr("__ts_ns div 1000")).cast("timestamp_ntz"))
          .drop("__ts_ns")
      case _ => // native µs-timestamp fixture
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
}
