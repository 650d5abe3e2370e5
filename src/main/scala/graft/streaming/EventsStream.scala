package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured-Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value) — SURVEY §2.2 "Streaming"
  * (reference-absent; north-star). Every transform here takes a DataFrame
  * and works identically on a batch frame or a `readStream` frame — the
  * specs exploit that for batch-equivalence testing (the strategy SURVEY §5
  * prescribes, since a streaming query has no DuckDB oracle).
  *
  * Scale posture: all aggregations are keyed (window start × type, or
  * user) so state is hash-partitioned across executors; watermarks bound
  * state size — without them, windowed state grows forever at 100 TB/day.
  *
  * State-store posture at cluster scale: the default in-memory
  * HashMapStateStoreProvider holds every key's state on-heap per task —
  * fine for these fixture-scale specs, but a 100 TB/day stream with
  * high-cardinality keys (user_id sessions, dedup ids) wants RocksDB:
  *   spark.sql.streaming.stateStore.providerClass=
  *     org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
  *   spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true
  * which spills state off-heap, makes checkpoints incremental (changelog
  * instead of full snapshots), and bounds executor memory independently of
  * key cardinality. The operators here are provider-agnostic — the
  * provider is session conf, not plan shape — so nothing in this file
  * changes; the conf lines are left out of [[graft.Sessions]] only because
  * the single-JVM fixture runs don't benefit from them.
  */
object EventsStream {

  /** Tumbling-window counts with late-data handling: events later than
    * `lateness` behind the max seen ts are dropped, windows finalize once
    * the watermark passes. On a batch frame the watermark is a no-op and
    * the result equals a plain window aggregation — the equivalence spec.
    */
  def hourlyTypeCounts(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(28,10)")).cast("double"), 4)
          .as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("cnt"),
        col("sum_value"))

  /** Hourly unique users via HLL (`approx_count_distinct`) — the
    * streaming cardinality pattern: exact per-window distinct would hold
    * every key in state, while the HLL register array is fixed-size per
    * window regardless of user cardinality. Deterministic (register max
    * is merge-order-independent), so stream == batch exactly — the
    * equivalence spec holds bit-for-bit, and the exact count rides along
    * at fixture scale for the error-bound assertion.
    */
  def hourlyUniqueUsers(events: DataFrame,
                        lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("hour"), col("approx_users"), col("n_events"))

  /** Sliding-window rate: 1-hour windows every 15 minutes. */
  def slidingRate(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"), col("cnt"))

  /** Exactly-once de-dup on event_id within the watermark horizon —
    * the streaming form of exact dedup (state = ids seen, bounded by the
    * watermark; unbounded without it).
    */
  def dedupedEvents(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicates("event_id")

  /** Session windows per user: gap-based (10 min) built-in session_window. */
  def userSessions(events: DataFrame, gap: String = "10 minutes",
                   lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"))

  /** Stream-stream interval join: attribute each purchase to the same
    * user's clicks in the preceding `horizon`. Both sides are watermarked;
    * the time-bound condition lets Spark expire join state (without it, a
    * stream-stream join buffers forever). Works identically on batch
    * frames — the equivalence spec's lever.
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       horizon: String = "1 hour",
                       lateness: String = "2 hours"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", lateness)
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", lateness)
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("p_ts"), col("click_id"), col("c_ts"), col("value"))
  }

  /** Typed event for the custom-state path. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  /** Running per-user aggregate maintained by explicit state. */
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful aggregation via mapGroupsWithState — the escape hatch
    * for state machines the built-in windows can't express (the streaming
    * analogue of the reference's item-interface extension point). State
    * here: per-user running (count, Σvalue) with processing-time timeout.
    */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          batch.foreach { e => n += 1; total += e.value }
          val next = UserRunning(user, n, total)
          state.update(next)
          state.setTimeoutDuration("1 hour")
          next
      }
  }

  /** File-source replay of the events table as a stream (each parquet file
    * becomes a micro-batch input) — how the specs and demos drive the
    * transforms above with real data.
    */
  /** The per-(event_type, day) partial aggregate of [[ivmSink]] — one
    * definition for the per-batch write AND the batch reference, so the
    * stream==batch spec compares the same algebra. Decimal sums
    * (additive-exact), min/max (idempotent-combinable), counts. */
  def ivmPartial(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(28,10)")).as("sum_dec"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))

  /** Streaming MATERIALIZED AGGREGATE (incremental view maintenance as a
    * sink): every micro-batch writes ITS OWN partial aggregate under a
    * `batch_id=` directory — idempotent under foreachBatch's
    * at-least-once replay (overwrite of the keyed dir converges), the
    * same contract as [[DocStream.decontaminatedSink]]. Readers fold the
    * partials with [[graft.ops.Ivm.mergeAll]] ([[readMaterialized]]) —
    * merge(agg(b₀), agg(b₁), …) == agg(all), the identity the batch
    * q_ivm_merge gate proves against DuckDB. Per batch the write is a
    * group-count-sized relation, never raw rows — the rollup a 100 TB/day
    * ingest maintains without rescanning history.
    */
  def ivmSink(events: DataFrame, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ivmPartial(batch).write.mode("overwrite")
          .parquet(s"$outPath/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Fold the [[ivmSink]] partials into the current materialized view. */
  def readMaterialized(spark: SparkSession, outPath: String): DataFrame =
    graft.ops.Ivm.mergeAll(
      spark.read.parquet(outPath).drop("batch_id"),
      keys = Seq("event_type", "day"), cntCol = "cnt",
      sumCols = Seq("sum_dec"), minCols = Seq("min_v"),
      maxCols = Seq("max_v"))
}
