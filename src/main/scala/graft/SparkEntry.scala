package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Ord._

/** Entry-point contract — see SURVEY.md §7 (build plan) and §8
  * (operator → query/spec coverage matrix).
  *
  * 175 queries across four domains, every SQL-expressible one paired with
  * DuckDB oracle SQL (verified bit-exact at sf0.001/0.01/0.1; the four
  * rows-only entries are q_approx_distinct, llm_bpe_train,
  * llm_bpe_apply and llm_bpe_apply_idx):
  *   - [[graft.cdc.CdcQueries]]      — the CDC dataflow (SURVEY §2.2-2.4)
  *   - [[graft.admin.ControlPlane]]  — relational control-plane ops (§2.3-2.8)
  *   - [[graft.rel.Relational]]      — join/agg/window/set-op/subquery capability
  *   - [[graft.llm.LlmQueries]]      — dedup / ANN / text analysis / multimodal
  * Streaming, DSv2-source, reliability, lifecycle, and scale-technique
  * semantics are spec-verified (342 ScalaTest cases) — see
  * graft.cdc.Streaming, graft.sources.ReplayLogSource,
  * graft.cdc.ListenerManager, graft.cdc.WebhookSink, graft.rel.Scale.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full CDC route (decode-shaped view → normalize → since-filter
    * → fan-out → flash gate → payload projection).
    */
  def entry(spark: SparkSession): DataFrame =
    cdc.Pipeline.deliveries(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    cdc.CdcQueries.queries ++
      admin.ControlPlane.queries ++
      rel.Relational.queries ++
      llm.LlmQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    cdc.CdcQueries.oracle ++
      admin.ControlPlane.oracle ++
      rel.Relational.oracle ++
      llm.LlmQueries.oracle

  /** Verify-dump total-order keys per query. Ordering is a property of the
    * oracle dump, NOT of the operators: library calls return unordered
    * (fully parallel) DataFrames; only the driver's correctness dump funnels
    * through the single-partition sort (see [[Ord]]). Queries absent here
    * either order internally as part of their semantics (top-k/pagination
    * via orderBy+limit → TakeOrdered) or emit a single row.
    */
  def dumpOrder: Map[String, Seq[Column]] =
    cdc.CdcQueries.dumpOrder ++
      admin.ControlPlane.dumpOrder ++
      rel.Relational.dumpOrder ++
      llm.LlmQueries.dumpOrder

  /** A query's result ordered for the verify dump (identity when the query
    * has no dump-order entry).
    */
  def dumpReady(name: String, df: DataFrame): DataFrame =
    dumpOrder.get(name).map(ks => df.orderedBy(ks: _*)).getOrElse(df)
}
