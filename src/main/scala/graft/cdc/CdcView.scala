package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Derives a CDC-change-event-shaped view from the driver's `events` table.
  *
  * The reference consumes Salesforce Pub/Sub change events of the shape
  * `{replay_id, ChangeEventHeader{entityName, changeType, recordIds,
  * commitTimestamp}, FlashField__c}` (reference
  * `app/services/sf_pubsub.py:615-647`, proto envelope
  * `app/sfproto/pubsub_api_pb2.py:27`). The driver harness has no such
  * feed, so this view reconstructs one *deterministically* from
  * `events.parquet` — every derived column is a pure function of
  * `event_id`/`user_id`/`ts`, expressed only with constructs that DuckDB
  * can mirror exactly (see the paired SQL in [[graft.OracleSql]]):
  *
  *   - `commit_raw`: the commit timestamp re-encoded in a unit chosen by
  *     `event_id % 4` — seconds, millis, nanos, or a garbage small value —
  *     to exercise the P3 unit heuristic end-to-end.
  *   - `record_ids`: `event_id % 4` synthetic ids (so ~25% of events have
  *     an empty list, exercising the F3 skip path).
  *   - `flash_raw`: cycles through the reference's messy-boolean encodings
  *     (P4 truth table), with a null override every 13th event.
  */
object CdcView {

  /** Epoch-ms cutoff used by the "since" filter queries: 2024-01-05T00:00Z.
    * Events span 2024-01-01..2024-01-30, so ~13% fall before the cutoff.
    */
  val SinceCutoffMs: Long = 1704412800000L

  def apply(spark: SparkSession, sfDir: String): DataFrame =
    fromEvents(Tables.events(spark, sfDir))

  /** Build the CDC view from a raw `events`-schema DataFrame where `ts` is
    * a Long of epoch-nanoseconds (see [[graft.Tables]]).
    */
  def fromEvents(events: DataFrame): DataFrame = {
    val eid = col("event_id")
    val commitMsTrue = ops.Normalize.intDiv(col("ts"), lit(1000000L))
    val nIds = eid % 4
    // ids R(4·eid + i) for i < nIds; none for a null or non-positive count.
    // One CASE branch per count rather than a `transform(sequence(..))`
    // lambda, which is `CodegenFallback` and keeps the route (and the
    // predicate pushed below it) out of whole-stage codegen. Each branch
    // computes only the ids it returns, as the lambda did, so ANSI
    // overflow fails on the same rows.
    val ids = (n: Int) =>
      array((0 until n).map(i => concat(lit("R"), (eid * 4 + i).cast("string"))): _*)

    events.select(
      eid.as("event_id"),
      col("user_id"),
      concat(lit("RP"), eid.cast("string")).as("replay_b64"),
      col("event_type").as("entity"),
      element_at(
        array(lit("CREATE"), lit("UPDATE"), lit("DELETE"), lit("UNDELETE")),
        (ops.Normalize.intDiv(eid, lit(4L)) % 4).cast("int") + 1
      ).as("change_type"),
      when(nIds === 1, ids(1)).when(nIds === 2, ids(2)).when(nIds === 3, ids(3))
        .otherwise(array().cast("array<string>"))
        .as("record_ids"),
      when(eid % 4 === 0, ops.Normalize.intDiv(commitMsTrue, lit(1000L)))
        .when(eid % 4 === 1, commitMsTrue)
        .when(eid % 4 === 2, commitMsTrue * 1000000L)
        .otherwise(lit(5L))
        .as("commit_raw"),
      when(eid % 13 === 0, lit(null).cast("string"))
        .otherwise(element_at(
          array(lit("true"), lit("True"), lit(" TRUE "), lit("1"), lit("yes"),
            lit("y"), lit("false"), lit("0"), lit("no"), lit(""), lit("maybe")),
          (eid % 11).cast("int") + 1))
        .as("flash_raw"),
      concat(lit("/data/"), col("event_type"), lit("ChangeEvent"))
        .as("subscription_topic"),
      concat(lit("https://inst"), (col("user_id") % 10).cast("string"),
        lit(".example.com")).as("instance_url")
    )
  }
}
