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
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
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
