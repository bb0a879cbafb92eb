package graft.cdc.ops

import graft.plans.GraftExtensions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The CDC routing dataflow — the reference's hot loop
  * (`_subscribe_loop`, `app/services/sf_pubsub.py:602-789`) re-expressed as
  * composable `DataFrame => DataFrame` transforms. The full chain is narrow
  * (no shuffle): scan → project → filter → generate → filter → project,
  * one pass per partition with no exchange — the Spark analog of the
  * reference's single-pass event loop. It is one WholeStageCodegen span,
  * from the scan's rows to the delivery projection: every expression of
  * `CdcView.fromEvents` and of the route generates code (no
  * `CodegenFallback` lambda), so the pushed-down `Filter` fuses with the
  * projections and the generator (`cdc_route` in PLANS.md), and the
  * streaming sinks compile the span once per stream start
  * ([[graft.streaming.PlannedRoute]]).
  */
object Route {

  /** P3 — add normalized `commit_ms` from the unit-ambiguous `commit_raw`. */
  def withCommitMs(df: DataFrame): DataFrame =
    GraftExtensions.register(df).withColumn("commit_ms", Normalize.commitMsLong(col("commit_raw")))

  /** F2 — "since" mode: drop events older than the cutoff (reference
    * `app/services/sf_pubsub.py:621-628`). The reference still advances the
    * stored offset for dropped events; under Structured Streaming that is
    * the checkpoint's job (offsets advance per micro-batch regardless of
    * row-level filtering), so the filter alone is semantically complete.
    * Null commit_ms passes through (the reference only drops when
    * `commit_ms is not None`).
    */
  def sinceFilter(cutoffMs: Long)(df: DataFrame): DataFrame =
    df.filter(col("commit_ms").isNull || col("commit_ms") >= lit(cutoffMs))

  /** F3 — skip events with no recordIds (reference `:660-668`). */
  def nonEmptyIds(df: DataFrame): DataFrame =
    df.filter(size(col("record_ids")) > 0)

  /** E1 — per-record fan-out: one row per recordId with its 0-based index
    * (reference `:676`). `posexplode` is the built-in generator equivalent
    * of the reference's enumerate loop; it also drops empty arrays, which
    * composes with F3.
    */
  def fanOut(df: DataFrame): DataFrame =
    df.select(col("*"), posexplode(col("record_ids")).as(Seq("idx", "record_id")))

  /** E1 list-alignment (reference `:679-682`): when the flash field is
    * list-valued, record i takes element i, out-of-range → null; a scalar
    * broadcasts to every record. Call after [[fanOut]] with the list column
    * and the 0-based `idx` produced by it.
    */
  def alignedFlash(flashList: org.apache.spark.sql.Column,
                   idx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(flashList) > idx, element_at(flashList, idx.cast("int") + 1))
      .otherwise(lit(null).cast("string"))

  /** P4 + F1 — normalize the flash field and keep only rows where it is
    * exactly true (reference `:691-727`).
    */
  def flashGate(df: DataFrame): DataFrame =
    df.withColumn("flash_norm", Normalize.boolNorm(col("flash_raw")))
      .filter(col("flash_norm") === lit(true))

  /** P5 — webhook payload projection (reference `:736-744`): one delivery
    * row per surviving recordId.
    */
  def project(df: DataFrame): DataFrame =
    df.select(
      col("record_id").as("id"),
      col("subscription_topic"),
      col("instance_url"),
      col("entity"),
      col("change_type"),
      col("commit_ms"))
}
