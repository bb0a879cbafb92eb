package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time windowed aggregation + custom keyed state over the events
  * stream — the Structured Streaming capability surface beyond the
  * reference's own needs (its only state is offsets + counters, SURVEY
  * §2.9): watermarked tumbling and session windows and
  * `flatMapGroupsWithState` session counters.
  *
  * All transforms take the CdcView/events column shapes and work
  * identically on batch DataFrames (watermark is a no-op in batch), so
  * every streaming pipeline here is differential-testable against its
  * batch twin.
  */
object Windows {

  /** events (ts = epoch nanos long) → event-time column. */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", expr("timestamp_micros(ts div 1000)"))

  /** Watermarked tumbling count per (window, event_type). Late rows older
    * than `delay` below the observed max event time are dropped — the
    * streaming analog of the reference's drop-before filter (F2), but with
    * state cleanup bounded by the watermark instead of an offset gate.
    */
  def tumblingCounts(events: DataFrame, windowDur: String = "1 day",
      delay: String = "2 days"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), windowDur), col("event_type"))
      // decimal sum: exact under any accumulation order, so the streaming
      // run (incremental state per micro-batch) and its batch twin are
      // bit-identical — a raw double sum would differ in ULPs with
      // partial-aggregate merge order (the repo-wide determinism rule)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,6)")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows: activity bursts per user separated by `gap` of
    * silence, state bounded by the watermark.
    */
  def sessionCounts(events: DataFrame, gap: String = "2 days",
      delay: String = "2 days"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", delay)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("user_id"), col("n"))

  /** Consumer-side replay dedup: the reference's at-least-once contract
    * makes duplicate deliveries "the consumer's job" (comment at reference
    * `app/services/sf_pubsub.py:753-754`) — this is that consumer,
    * as a streaming operator: exact dedup on `event_id` with state bounded
    * by the watermark (a replayed event arrives close to its original, so
    * a short horizon suffices; state cannot grow unboundedly).
    */
  def dedupStream(events: DataFrame, delay: String = "2 days"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user running session state via flatMapGroupsWithState — the
    * custom-state extension point (KeyValueGroupedDataset) the reference's
    * per-listener counters would need if they were keyed and unbounded.
    * Emits one updated summary row per key per micro-batch.
    */
  case class UserEvent(user_id: Long, tsMs: Long, value: Double)
  case class UserState(n: Long, sumValue: Double, lastMs: Long)
  case class UserSummary(user_id: Long, n: Long, sum_value: Double, last_ms: Long)

  def updateUser(key: Long, events: Iterator[UserEvent],
      state: GroupState[UserState]): Iterator[UserSummary] = {
    val prev = state.getOption.getOrElse(UserState(0L, 0.0, Long.MinValue))
    val next = events.foldLeft(prev) { (s, e) =>
      UserState(s.n + 1, s.sumValue + e.value, math.max(s.lastMs, e.tsMs))
    }
    if (next.n == prev.n) Iterator.empty
    else {
      state.update(next)
      Iterator(UserSummary(key, next.n, next.sumValue, next.lastMs))
    }
  }

  def userSessions(spark: SparkSession, events: DataFrame): Dataset[UserSummary] = {
    import spark.implicits._
    events.select(col("user_id"),
        expr("ts div 1000000").as("tsMs"),
        col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserSummary](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(updateUser)
  }
}
