package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixture-table readers (TESTDATA.md / FIXTURES.md §B).
  *
  * All query entry points take a scale-factor directory and read parquet —
  * the engine's scan path is Spark's columnar `FileSourceScanExec`, so column
  * pruning and predicate pushdown reach the footer for free (SURVEY §4).
  */
object Tables {

  /** The SQL confs parquet schema inference reads: how footer types
    * convert (ns timestamps, binary, INT96, NTZ) and which footers merge. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Everything an inferred schema depends on: each data file's (path,
    * length, modification time) and the values of [[SchemaConfs]]. */
  private final case class Stamp(files: Seq[(String, Long, Long)],
                                 confs: Seq[Option[String]])

  /** Per session, qualified table path → the stamp its schema was inferred
    * under, and that schema. Weak keys: the cache keeps no session alive. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[String, (Stamp, StructType)]]())

  /** Opens `dir/name.parquet`. Inferring a parquet schema is a Spark job
    * that reads footers, so each session infers a table's schema once and
    * opens it with that schema until a data file or a [[SchemaConfs]]
    * value changes; listing the files is local metadata work. This is the
    * schema a metastore would hold, not a cached result. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // a missing path takes Spark's own error
    if (!fs.exists(path)) return spark.read.parquet(p)
    val qualified = fs.makeQualified(path).toString
    val files = fs.listFiles(path, true)
    val stamp = Stamp(
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toVector.sorted,
      SchemaConfs.map(spark.conf.getOption))
    val cache = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    val schema = Option(cache.get(qualified)).collect {
      case (s, known) if s == stamp => known
    }.getOrElse {
      val inferred = spark.read.parquet(p).schema
      cache.put(qualified, (stamp, inferred))
      inferred
    }
    spark.read.schema(schema).parquet(p)
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
