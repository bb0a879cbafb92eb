package graft.cdc

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.ops.{Normalize, Route}
import graft.plans.GraftExtensions

/** The composed CDC delivery pipeline — batch form. The identical transform
  * chain runs under Structured Streaming in [[Streaming]]; batch-first so
  * the DuckDB oracle can differential-test it (SURVEY §5).
  *
  * Reference trace (`app/services/sf_pubsub.py:602-789`):
  * decode → header/commit-ms (P3) → since-drop (F2) → empty-ids skip (F3)
  * → per-record fan-out (E1) → flash normalize+gate (P4+F1) → payload
  * projection (P5) → webhook sink (K1) with gated offset commit (K2).
  */
object Pipeline {

  /** events-shaped CDC view → delivery rows. Narrow end-to-end: no shuffle,
    * and one codegen stage from the view's projection to the delivery
    * projection (over a stream's rows the whole route is that one stage,
    * compiled once per stream start); scales linearly with input splits at
    * any SF.
    */
  def deliveries(cdc: DataFrame, cutoffMs: Long = CdcView.SinceCutoffMs): DataFrame =
    cdc.transform(Route.withCommitMs)
      .transform(Route.sinceFilter(cutoffMs))
      .transform(Route.nonEmptyIds)
      .transform(Route.fanOut)
      .transform(Route.flashGate)
      .transform(Route.project)

  def deliveries(spark: SparkSession, sfDir: String): DataFrame =
    deliveries(CdcView(spark, sfDir))

  /** The reference's route warn-counters as an `observe()` metric (SURVEY
    * §7.4 "P4 other-string→null, logging side-channel" — here a
    * zero-cost observable metric instead of a log line): unparseable
    * flash strings, empty-recordIds events (F3 skips), since-dropped
    * events (F2 drops), and total events seen. Attach BEFORE the route
    * (`observeRoute(cdc)` → run `deliveries` on the returned frame);
    * read `obs.get` after the action completes.
    */
  def observeRoute(cdc: DataFrame, cutoffMs: Long = CdcView.SinceCutoffMs)
      : (DataFrame, Observation) = {
    val obs = new Observation("route_metrics")
    val flashNorm = Normalize.boolNorm(col("flash_raw"))
    val commitMs = Normalize.commitMsLong(col("commit_raw"))
    val observed = GraftExtensions.register(cdc).observe(obs,
      count(lit(1)).as("events_seen"),
      sum(when(flashNorm.isNull && col("flash_raw").isNotNull, 1L).otherwise(0L))
        .as("unparseable_flash"),
      sum(when(size(col("record_ids")) === 0, 1L).otherwise(0L))
        .as("empty_record_ids"),
      sum(when(commitMs.isNotNull && commitMs < cutoffMs, 1L).otherwise(0L))
        .as("since_dropped"))
    (observed, obs)
  }
}
