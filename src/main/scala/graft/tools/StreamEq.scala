package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-equivalence artifact runner (VERDICT r16 #5): the
  * stream==batch results proved per-shape in EventsStreamSpec/DocStreamSpec
  * were visible only inside sbt test output — this main replays the same
  * equivalence checks over the DRIVER'S OWN fixtures (events/documents
  * parquet at the given sf dir, re-sliced into 8 files so
  * maxFilesPerTrigger=1 drives ≥8 micro-batches) and writes a
  * machine-readable JSON artifact: shape → {pass, rows_stream, rows_batch}.
  *
  * The comparison is the specs' canon: collect → stringify → sort — a
  * streaming query has no DuckDB oracle (SURVEY §5), so bit-equality with
  * the identical transform run as one batch IS the correctness gate.
  * Watermark lateness is set beyond the fixture's time span because the
  * micro-batch arrival order of the sliced files is not time-ordered —
  * a tight watermark would gate arrival order, not the operator
  * (EventsStreamSpec precedent); late-DROP semantics stay covered by the
  * directed watermark spec.
  *
  * Usage: runMain graft.tools.StreamEq [sfDir] [outJson]
  * (`outJson` defaults to `target/stream_eq/stream_eq.json`, inside the
  * work dir each run clears first).
  */
object StreamEq {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = "target/stream_eq"
    val outJson = args.drop(1).headOption.getOrElse(s"$work/stream_eq.json")
    val spark = graft.Sessions.local("stream-eq")
    import spark.implicits._
    import graft.streaming.{DocStream, EventsStream, StreamingWordCount}

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))

    // ── fixture prep: the real tables, sliced into 8 micro-batch files ──
    // EventTimeWatermark requires TimestampType; Tables.events surfaces
    // NTZ (session TZ pinned UTC, so the cast preserves the instant)
    val eventsDir = s"$work/events"
    graft.Tables.events(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .repartition(8).write.parquet(eventsDir)
    val batchEvents = spark.read.parquet(eventsDir)
    def streamEvents: DataFrame =
      spark.readStream.schema(batchEvents.schema)
        .option("maxFilesPerTrigger", "1").parquet(eventsDir)

    // documents carry no ingest timestamp — synthesize a deterministic
    // one from doc_id (a minute grid), identically visible to both sides
    val docsDir = s"$work/docs"
    graft.Tables.table(spark, sfDir, "documents")
      .withColumn("ingest_ts",
        timestamp_seconds(lit(1704067200L) + col("doc_id") * 60L)
          .cast("timestamp"))
      .repartition(8).write.parquet(docsDir)
    val batchDocs = spark.read.parquet(docsDir)
    def streamDocs: DataFrame =
      spark.readStream.schema(batchDocs.schema)
        .option("maxFilesPerTrigger", "1").parquet(docsDir)

    // text-dir corpus for the word-count contract (4 files → 4 batches)
    val txtDir = s"$work/txt"
    graft.Tables.table(spark, sfDir, "documents")
      .select(col("text")).limit(200).coalesce(4)
      .write.text(txtDir)

    // fixture span is ~30 days; lateness must exceed it (see class doc)
    val Late = "2000 hours"

    def runStream(df: DataFrame, mode: String, name: String): DataFrame = {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      require(q.awaitTermination(300000), s"stream '$name' did not terminate")
      spark.table(name)
    }
    def canon(df: DataFrame): Seq[Seq[String]] =
      df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sorted(
        Ordering.Implicits.seqOrdering[Seq, String])

    var results = scala.collection.immutable.ListMap.empty[String, (Boolean, Long, Long)]
    // per-shape extra JSON (adversarial shapes carry their explicit drop
    // accounting — VERDICT r17 #7: stream == batch-minus-EXPECTED-drops)
    var extras = scala.collection.immutable.ListMap.empty[String, String]
    def check(name: String)(body: => (DataFrame, DataFrame)): Unit = {
      val (pass, ns, nb) = try {
        val (s, b) = body
        val (cs, cb) = (canon(s), canon(b))
        (cs == cb && cs.nonEmpty, cs.size.toLong, cb.size.toLong)
      } catch {
        case e: Throwable =>
          System.err.println(s"[stream_eq] $name FAILED: ${e.getMessage}")
          (false, -1L, -1L)
      }
      results += name -> (pass, ns, nb)
      println(s"[stream_eq] $name pass=$pass rows_stream=$ns rows_batch=$nb")
      spark.catalog.clearCache()
    }

    check("events_hourly_counts") {
      (runStream(EventsStream.hourlyTypeCounts(streamEvents, Late),
        "complete", "eq_hourly"),
        EventsStream.hourlyTypeCounts(batchEvents, Late))
    }
    check("events_hourly_hll") {
      (runStream(EventsStream.hourlyUniqueUsers(streamEvents, Late),
        "complete", "eq_hll"),
        EventsStream.hourlyUniqueUsers(batchEvents, Late))
    }
    check("events_sliding_rate") {
      (runStream(EventsStream.slidingRate(streamEvents, Late),
        "complete", "eq_sliding"),
        EventsStream.slidingRate(batchEvents, Late))
    }
    check("events_dedup") {
      (runStream(EventsStream.dedupedEvents(streamEvents, Late),
        "append", "eq_dedup"),
        EventsStream.dedupedEvents(batchEvents, Late))
    }
    check("events_sessions") {
      (runStream(EventsStream.userSessions(streamEvents, lateness = Late),
        "complete", "eq_sessions"),
        EventsStream.userSessions(batchEvents, lateness = Late))
    }
    check("events_interval_join") {
      val clicks = (df: DataFrame) => df.where(col("event_type") === "click")
      val buys = (df: DataFrame) => df.where(col("event_type") === "purchase")
      // a 24 h horizon yields hundreds of attributed pairs at this event
      // density — a 30 min one matches ~2, too thin to gate a join
      (runStream(EventsStream.clickAttribution(
        clicks(streamEvents), buys(streamEvents),
        horizon = "24 hours", lateness = Late), "append", "eq_attrib"),
        EventsStream.clickAttribution(clicks(batchEvents), buys(batchEvents),
          horizon = "24 hours", lateness = Late))
    }
    check("events_ivm_fold") {
      val q = EventsStream.ivmSink(streamEvents,
        s"$work/ivm_out", s"$work/ivm_ckpt")
      require(q.awaitTermination(300000), "ivm stream did not terminate")
      (EventsStream.readMaterialized(spark, s"$work/ivm_out"),
        EventsStream.ivmPartial(batchEvents))
    }
    check("docs_ingest_stats") {
      (runStream(DocStream.ingestStats(streamDocs, "ingest_ts",
        horizon = Late), "complete", "eq_ingest"),
        DocStream.ingestStats(batchDocs, "ingest_ts", horizon = Late))
    }
    check("docs_first_seen") {
      // the survivor REPRESENTATIVE per fingerprint is nondeterministic
      // in batch (dropDuplicates keeps an arbitrary row), so the
      // equivalence object is the fingerprint SET (DocStreamSpec's gate)
      val s = runStream(DocStream.firstSeenDocs(streamDocs, "ingest_ts",
        horizon = Late), "append", "eq_firstseen").select("fp").distinct()
      val b = DocStream.firstSeenDocs(batchDocs, "ingest_ts")
        .select("fp").distinct()
      (s, b)
    }
    check("wordcount_stream") {
      (runStream(StreamingWordCount.fromDirectory(spark, txtDir),
        "complete", "eq_wc").select("word", "cnt"),
        graft.wc.WordCount.fromDirectory(spark, txtDir)
          .toDF("word", "cnt"))
    }

    // ── adversarial shapes (VERDICT r17 #7): TIGHT watermark over
    // hash-shuffled batch boundaries — late-beyond-watermark rows occur by
    // construction, and the expected drops are accounted EXPLICITLY by
    // AdversarialReplay's measured watermark model (one-batch application
    // lag, <= boundaries — pinned by AdversarialReplaySpec). The gate is
    // stream == batch-minus-expected-drops, with the drop counts in the
    // artifact; a shape that drops nothing would be vacuous, so zero
    // drops FAILS the shape.
    import graft.streaming.AdversarialReplay
    val AdvLate = "3 hours"
    val AdvBatches = 8
    val advDir = s"$work/adv_events"
    val advBatched = AdversarialReplay.withBatchId(
      batchEvents, "ts", "event_id", AdvBatches)
    AdversarialReplay.writeBatches(spark, advBatched, advDir, AdvBatches)
    val advBatchDf = spark.read.parquet(advDir)
    def advStream: DataFrame =
      spark.readStream.schema(advBatchDf.schema)
        .option("maxFilesPerTrigger", "1").parquet(advDir)

    check("events_hourly_late_adversarial") {
      val (expected, lateDropped, withheld) =
        AdversarialReplay.expectedHourlyTypeCounts(
          spark, advBatchDf, AdvLate, AdvBatches)
      require(lateDropped > 0 && withheld > 0,
        s"shape not adversarial: dropped=$lateDropped withheld=$withheld")
      extras += "events_hourly_late_adversarial" ->
        s""","late_dropped":$lateDropped,"windows_withheld":$withheld"""
      System.err.println(s"[stream_eq] adversarial hourly: " +
        s"$lateDropped late rows dropped, $withheld windows withheld")
      (runStream(EventsStream.hourlyTypeCounts(advStream, AdvLate),
        "append", "eq_adv_hourly"), expected)
    }
    check("events_dedup_late_adversarial") {
      val (expectedKeys, lateDropped, suppressed) =
        AdversarialReplay.expectedDedupKeys(
          spark, advBatchDf, AdvLate, AdvBatches)
      require(lateDropped > 0,
        s"shape not adversarial: dropped=$lateDropped")
      extras += "events_dedup_late_adversarial" ->
        s""","late_dropped":$lateDropped,"dups_suppressed":$suppressed"""
      System.err.println(s"[stream_eq] adversarial dedup: " +
        s"$lateDropped late rows dropped, $suppressed duplicates suppressed")
      val s = runStream(EventsStream.dedupedEvents(advStream, AdvLate),
        "append", "eq_adv_dedup")
      require(s.count() == s.select("event_id").distinct().count(),
        "a key emitted twice — dedup state broke")
      (s.select("event_id").distinct(), expectedKeys)
    }

    val allPass = results.values.forall(_._1)
    val shapes = results.map { case (k, (p, ns, nb)) =>
      s""""$k":{"pass":$p,"rows_stream":$ns,"rows_batch":$nb${extras.getOrElse(k, "")}}"""
    }.mkString("{", ",", "}")
    val lineOut =
      s"""{"artifact":"stream_eq","sf":"$sfDir","n_shapes":${results.size},"all_pass":$allPass,"shapes":$shapes}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (lineOut + "\n").getBytes("UTF-8"))
    println(lineOut)
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
