package graft

import graft.obs.Collector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** [[Tables.events]] schema-adaptive reader gates: the LongType branch is
  * the legacy ns-as-long fixture path, and its ns-assumption is enforced
  * by magnitude (ADVICE r10) — a fixture shipping µs-as-plain-INT64 must
  * fail the read loudly instead of being silently divided into 1970.
  *
  * [[Tables.table]]'s per-session schema cache: a reopen runs no job, and
  * a rewritten file or a flipped parquet conf is inferred again.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def jobsToOpen(dir: String, name: String) = {
    var schema: StructType = null
    val r = new Collector(spark).traced(s"open $name")(
      Tables.table(spark, dir, name))(df => schema = df.schema)
    (r.jobs, schema)
  }

  /** One-row parquet file whose `ts` is an INT64 timestamp in `unit`,
    * not adjusted to UTC, with no Spark schema in its footer (Spark does
    * not write NANOS, and reads its own files by the footer's schema). */
  private def writeTs(file: String, unit: String, ts: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; optional int64 ts (TIMESTAMP($unit,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 0L).append("ts", ts))
    finally w.close()
  }

  test("schema cache: reopening an unchanged table runs no job, same schema") {
    val dir = tempDir("tables-reopen").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    val (firstJobs, first) = jobsToOpen(dir, "t")
    val (jobs, again) = jobsToOpen(dir, "t")
    assert(firstJobs >= 1, "the first open infers the schema with a job")
    assert(jobs === 0)
    assert(again === first)
  }

  test("schema cache: a table rewritten in place with new columns is re-inferred") {
    val dir = tempDir("tables-rewrite")
    // a Spark-written directory, and a single file rewritten under one name
    val single = dir.resolve("single.parquet")
    def rewrite(df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dir/spark.parquet")
      val staged = s"$dir/staged"
      df.coalesce(1).write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, single,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    rewrite(Seq((1L, "a")).toDF("id", "s"))
    Seq("spark", "single").foreach(n =>
      assert(Tables.table(spark, dir.toString, n).columns.toSeq === Seq("id", "s"), n))
    rewrite(Seq((1L, 2.5, "x")).toDF("id", "v", "w"))
    Seq("spark", "single").foreach { n =>
      val df = Tables.table(spark, dir.toString, n)
      assert(df.columns.toSeq === Seq("id", "v", "w"), n)
      assert(df.select("v", "w").as[(Double, String)].collect().toSeq === Seq((2.5, "x")), n)
    }
  }

  test("schema cache: flipping nanosAsLong or inferTimestampNTZ re-infers ts") {
    val dir = tempDir("tables-ts").toString
    def tsType(name: String) = Tables.table(spark, dir, name).schema("ts").dataType
    // ns timestamps arrive as LONG only under the legacy conf; without it
    // inference refuses the type, so a cached LongType would hide the flip
    writeTs(s"$dir/nanos.parquet", "NANOS", 1704067200L * 1000000000L)
    assert(tsType("nanos") === LongType)
    val e = intercept[Exception](
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false")(tsType("nanos")))
    assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
    assert(tsType("nanos") === LongType)
    // µs timestamps not adjusted to UTC are NTZ only while inference says so
    writeTs(s"$dir/micros.parquet", "MICROS", 1704067200L * 1000000L)
    assert(tsType("micros") === TimestampNTZType)
    assert(withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")(
      tsType("micros")) === TimestampType)
    assert(tsType("micros") === TimestampNTZType)
  }

  private def writeEvents(tsValues: Seq[Long]): String = {
    val dir = tempDir("tables-events").toString
    tsValues.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events LongType branch truncates genuine ns epochs to µs") {
    // 2024-01-01T00:00:00.123456789 in ns
    val ns = 1704067200L * 1000000000L + 123456789L
    val dir = writeEvents(Seq(ns))
    val got = Tables.events(spark, dir).select(col("ts").cast("string"))
      .as[String].collect().head
    assert(got == "2024-01-01 00:00:00.123456")
  }

  test("events LongType branch refuses µs-magnitude values (ADVICE r10)") {
    // the same instant as µs-since-epoch stored as plain INT64 — dividing
    // by 1000 would silently yield 1970; the magnitude guard must raise
    val micros = 1704067200L * 1000000L
    val dir = writeEvents(Seq(micros))
    val e = intercept[Exception] {
      Tables.events(spark, dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("ns-since-epoch")), msgs(e).mkString(" | "))
  }
}
