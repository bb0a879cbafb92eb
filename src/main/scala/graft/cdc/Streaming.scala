package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.streaming.PlannedRoute

/** The CDC pipeline under Structured Streaming — the reference's listener
  * runtime (`app/services/listener_manager.py` + `_subscribe_loop`,
  * `app/services/sf_pubsub.py:552-789`) re-expressed as a checkpointed
  * micro-batch stream. The *identical* batch transforms from [[Pipeline]]
  * run under `readStream`; delivery happens in `foreachBatch` with
  * **gated-commit** semantics (K2): the epoch's offset is committed only
  * after the delivery callback returns — a throwing sink leaves the
  * checkpoint untouched, so the whole micro-batch replays on restart
  * (at-least-once, whole-event replay granularity, exactly the contract at
  * reference `app/services/sf_pubsub.py:752-780`).
  *
  * Scale: the route is narrow end-to-end (no shuffle); a 1000-executor
  * cluster partitions by source split and each epoch is embarrassingly
  * parallel. Backpressure = `maxFilesPerTrigger` (the credit-based
  * `num_requested` analog, reference `:565,607`).
  *
  * Per-epoch commit cost: each epoch writes three checkpoint logs on the
  * driver's blocking path — the source file log (`sources/0/N`), the
  * offset WAL (`offsets/N`) and the commit log (`commits/N`). On a local
  * checkpoint they go through `java.nio`
  * ([[graft.streaming.NioCheckpointFileManager]]): about 2 ms each on a
  * 4-vCPU VM, where Spark's own local manager took ~40 ms forking
  * `chmod`/`readlink`. Any other scheme uses the manager Spark picks.
  *
  * Per-epoch planning cost: an epoch's source is a file-log lookup and
  * one RDD ([[graft.streaming.StreamFileSource]]). Spark's file stream
  * still discovers and orders the files and writes the checkpoint's
  * batch→files log, but the epoch's rows come from one parquet reader,
  * built at start and pruned to the four columns the route reads, as a
  * single plan leaf: no file relation is resolved, no scan is planned and
  * no code is generated per epoch. `ts` is normalized, and the route and
  * the sink's own projection are planned and compiled to one whole-stage
  * codegen stage, once, when the query starts, over a stand-in for the
  * stream's rows; each epoch maps that compiled stage over its rows
  * ([[graft.streaming.PlannedRoute]]). What an epoch still plans on the
  * stream thread is that one leaf, twice: the epoch's incremental
  * execution, and Spark 4.1's SQL-execution start event, whose
  * `QueryExecution.explainString` builds a second incremental execution
  * just to render the plan text (no setting skips it). On a 4-vCPU VM
  * the driver time before an epoch's job went from ~13 ms (a file
  * relation, a scan planned twice and code-generated, its closure
  * cleaned) to ~8 ms. With `dedupe`, the stateful dedup and its `ts`
  * normalization stay in the stream plan and are planned per epoch. The
  * plan text, in the UI and in listener events, shows only the source,
  * and the route's SQL metrics are the start-time stage's, summed over
  * the stream; [[routed]] is the streaming form of the same route, for
  * stateful consumers.
  */
object Streaming {

  /** Per-client pipeline config — the `ClientConfig` analog
    * (reference `app/services/sf_pubsub.py:78-87`).
    */
  case class PipelineSpec(
      clientId: String,
      sourceDir: String,
      checkpointDir: String,
      cutoffMs: Long = CdcView.SinceCutoffMs,
      maxFilesPerTrigger: Int = 1,
      dedupe: Boolean = false,
      dedupeDelay: String = "2 days")

  /** events.parquet schema with ts as epoch-nanos long (see graft.Tables). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Build the streaming delivery DataFrame (unstarted). With
    * `spec.dedupe` set, ingest-side replay dedup
    * ([[graft.streaming.Windows.dedupStream]]) runs BEFORE the route: an
    * event_id re-delivered by the source in a later micro-batch (the
    * at-least-once replay the reference leaves to consumers, ref
    * `app/services/sf_pubsub.py:753-754`) is suppressed by watermark-
    * bounded state, so the delivery sink sees each event once.
    * `CdcView.fromEvents` selects its own columns, so the dedup's
    * event_time never leaks into the delivery schema.
    *
    * The watermark bound cuts both ways: a FIRST-TIME event arriving more
    * than `dedupeDelay` of event time behind the observed maximum is
    * dropped as late by the stateful operator — that is what bounds the
    * state, but it means `dedupe = true` trades the unconditional
    * at-least-once contract for "at-least-once within `dedupeDelay` of
    * disorder". Size `dedupeDelay` to the source's maximum out-of-order
    * skew (a replayed event arrives close to its original, so dedup
    * itself needs only a short horizon); leave `dedupe = false` where
    * late data must never be lost.
    *
    * `sourceDir` must hold at least one file at plan time: the ts
    * physical type is read off the existing files so any driver
    * generation (raw-nanos Long or TIMESTAMP(MICROS)/NTZ) normalizes to
    * the epoch-nanos Long the route expects — the [[graft.Tables.load]]
    * rule, applied to the stream.
    */
  def routed(spark: SparkSession, spec: PipelineSpec): DataFrame =
    route(spec)(source(spark, spec))

  /** The stream every sink reads: the four columns of the source files
    * `CdcView.fromEvents` reads, `ts` in the files' own type; with
    * `spec.dedupe`, `ts` normalized and the replay dedup applied.
    */
  private def source(spark: SparkSession, spec: PipelineSpec): DataFrame = {
    graft.Tables.setup(spark)
    // Declare ts with the SOURCE's physical type (read off the files
    // already present — the StreamingIngest schema discipline); the route
    // normalizes it to the epoch-nanos Long, exactly the Tables.load rule.
    // Forcing LongType onto a TIMESTAMP(MICROS) file would make the
    // vectorized reader hand back RAW MICROS — commit_ms lands on the
    // seconds scale, the since-filter drops 100% of events, and the
    // stream silently delivers nothing.
    val tsType = spark.read.parquet(spec.sourceDir).schema("ts").dataType
    val schema = StructType(eventsSchema.take(4).map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val src = graft.streaming.StreamFileSource.read(spark, spec.sourceDir, schema, spec.maxFilesPerTrigger)
    if (spec.dedupe)
      graft.streaming.Windows.dedupStream(graft.Tables.normalizeTs(src), spec.dedupeDelay)
        .select("event_id", "ts", "user_id", "event_type")
    else src
  }

  /** The route from source rows to delivery rows, as in the batch twin. */
  private def route(spec: PipelineSpec)(events: DataFrame): DataFrame =
    Pipeline.deliveries(CdcView.fromEvents(graft.Tables.normalizeTs(events)), spec.cutoffMs)

  /** Start the pipeline with a delivery callback (K1 webhook analog).
    * `deliver` receives each micro-batch's delivery rows; throwing aborts
    * the epoch *before* the checkpoint commit → gated at-least-once replay
    * (K2). Processes all available input then stops (AvailableNow),
    * restartable from the same checkpoint — replay positioning (S3) is the
    * checkpoint itself; a fresh checkpoint dir = EARLIEST, a kept one =
    * stored offset.
    */
  def start(spark: SparkSession, spec: PipelineSpec)(
      deliver: (DataFrame, Long) => Unit): StreamingQuery =
    startOn(spark, spec, identity) { (route, batch, epochId) =>
      deliver(route.frame(batch), epochId)
    }

  /** The one start path behind every sink: streams [[source]], plans and
    * compiles [[route]] followed by the sink's own projection `sink` once,
    * here on the caller's thread (a route that cannot be kept as one
    * compiled stage throws before any checkpoint file exists), and hands
    * `deliver` the planned route with each epoch's batch of source rows to
    * bind it to.
    */
  private[cdc] def startOn(spark: SparkSession, spec: PipelineSpec,
      sink: DataFrame => DataFrame)(
      deliver: (PlannedRoute, DataFrame, Long) => Unit): StreamingQuery = {
    val stream = source(spark, spec)
    val planned = PlannedRoute(spark, stream.schema)(events => sink(route(spec)(events)))
    graft.streaming.NioCheckpointFileManager.install(spark)
    stream.writeStream
      .option("checkpointLocation", spec.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        deliver(planned, batch, epochId)
      }
      .start()
  }

  /** Delivery into an append-only parquet log: the observable sink the
    * specs read back. [[startToWebhook]] is the HTTP POST delivery.
    */
  def startToParquet(spark: SparkSession, spec: PipelineSpec, outDir: String): StreamingQuery =
    startOn(spark, spec, _.withColumn("client_id", lit(spec.clientId))) { (route, batch, _) =>
      route.frame(batch).write.mode("append").parquet(outDir)
    }

  /** K1 — live HTTP webhook delivery: each micro-batch POSTs its payload
    * rows from the executors under the reference retry contract (see
    * [[WebhookSink]]); exhausted retries abort the epoch → gated replay.
    * The payload projection ([[webhookPayload]]) is planned and compiled
    * with the route at start, and the sink posts the bound `payload_json`
    * rows directly, without a DataFrame around them.
    */
  def startToWebhook(spark: SparkSession, spec: PipelineSpec,
      webhook: WebhookSink.Config): StreamingQuery =
    startOn(spark, spec, webhookPayload) {
      (route, batch, _) => WebhookSink.deliver(webhook)(route.rows(batch))
    }

  /** [[startToWebhook]]'s sink projection: the payload bodies alone. */
  private[cdc] def webhookPayload(deliveries: DataFrame): DataFrame =
    WebhookSink.payloadJson(deliveries).select("payload_json")

  /** Delivery-log storage layout for 100 TB: partition by entity so
    * downstream per-entity consumers read only their slice (partition
    * pruning — `PartitionFilters` in the read plan; asserted in
    * PlanQualitySpec). A date partition column derived from `commit_ms`
    * would be the second level in production.
    */
  def writePartitionedLog(deliveries: DataFrame, outDir: String): Unit =
    deliveries.write.mode("append").partitionBy("entity").parquet(outDir)

  /** Effectively-once delivery log: like [[startToParquet]] but idempotent
    * under replay — each epoch writes to a partition directory keyed by its
    * epoch id with dynamic partition overwrite, so a replayed epoch
    * *replaces* its own partial output instead of appending duplicates.
    * This upgrades the reference's at-least-once contract (duplicates on
    * replay are the consumer's problem, `app/services/sf_pubsub.py:753-754`)
    * to exactly-once observable output — the standard foreachBatch
    * idempotent-sink pattern.
    */
  def startToParquetIdempotent(spark: SparkSession, spec: PipelineSpec,
      outDir: String): StreamingQuery =
    startOn(spark, spec, _.withColumn("client_id", lit(spec.clientId))) { (route, batch, epochId) =>
      graft.fs.StoredTable.commitEpoch(route.frame(batch), epochId, outDir)
    }

  /** A4 — running per-entity counters as a stateful streaming agg
    * (`events_received`, last-seen), the only cross-event state beyond the
    * offset in the reference (`app/services/sf_pubsub.py:782-785`).
    */
  def runningCounters(deliveries: DataFrame): DataFrame =
    deliveries.groupBy(col("entity"))
      .agg(count(lit(1)).as("events_received"), max(col("commit_ms")).as("last_commit_ms"))
}
