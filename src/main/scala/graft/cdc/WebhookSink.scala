package graft.cdc

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ExecutionException, ExecutorService, Executors, Future}

/** K1 — the real HTTP webhook delivery executor behind the retry envelope.
  *
  * Mirrors the reference `_post_webhook` contract
  * (`app/services/sf_pubsub.py:333-356`): POST the delivery payload JSON,
  * 15 s request timeout, any 2xx is success; on failure retry up to 3
  * attempts with exponential backoff 1 s → ×2 → cap 30 s. Exhausted
  * retries throw, which aborts the foreachBatch epoch *before* the
  * checkpoint commit — the gated at-least-once replay of [[Streaming]]
  * (K2) then re-delivers the whole micro-batch on restart.
  *
  * Scale: [[deliver]] takes the rows of the one `payload_json` column
  * that [[Streaming.startToWebhook]] plans with the route, and runs one
  * job over them (`runJob` with a named task body, which Spark's closure
  * cleaner skips); nothing is collected to the driver. Each partition
  * task keeps a window of [[Window]] `postWithRetry` calls in flight on
  * one lazily built daemon pool per executor JVM, and returns only after
  * every post of its partition is acknowledged — so an epoch still
  * commits only when all of its deliveries succeeded. The endpoint
  * therefore sees at most (running delivery tasks × [[Window]]) concurrent
  * posts; at the default `maxFilesPerTrigger = 1` an epoch is one task.
  * The first exhausted retry, or an interrupt of the task (a query stop),
  * cancels the posts still in flight with interruption and rethrows.
  * Within an epoch, arrival order is no longer row order: payloads carry
  * no change type or version, and the gated commit keeps epochs in order.
  * The HTTP client is one per executor JVM (lazy val), reused across
  * batches.
  */
object WebhookSink {

  /** Delivery contract knobs (defaults = the reference's constants). */
  case class Config(
      url: String,
      timeoutMs: Long = 15000L,
      maxAttempts: Int = 3,
      baseDelayMs: Long = 1000L,
      capMs: Long = 30000L)

  // one client per executor JVM; HttpClient is thread-safe and pools
  // connections, so concurrent partition tasks share it.
  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

  /** Posts one partition task keeps in flight. */
  val Window = 8

  // one daemon pool per executor JVM; cached, so every running task gets
  // its whole window and idle threads time out
  @transient private lazy val pool: ExecutorService =
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "webhook-post")
      t.setDaemon(true)
      t
    }

  /** POST one payload with the reference's retry contract. Throws after
    * `maxAttempts` failures (non-2xx status or transport error).
    */
  def postWithRetry(cfg: Config, body: String): Unit = {
    var attempt = 0
    var delay = cfg.baseDelayMs
    var lastFailure: String = ""
    while (attempt < cfg.maxAttempts) {
      attempt += 1
      try {
        val req = HttpRequest.newBuilder(URI.create(cfg.url))
          .timeout(Duration.ofMillis(cfg.timeoutMs))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .build()
        val resp = client.send(req, HttpResponse.BodyHandlers.discarding())
        if (resp.statusCode() / 100 == 2) return
        lastFailure = s"HTTP ${resp.statusCode()}"
      } catch {
        case e: java.io.IOException => lastFailure = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      if (attempt < cfg.maxAttempts) {
        Thread.sleep(delay)
        delay = math.min(delay * 2, cfg.capMs)
      }
    }
    throw new RuntimeException(
      s"webhook delivery to ${cfg.url} failed after ${cfg.maxAttempts} attempts ($lastFailure)")
  }

  /** JSON string escape for a value column: backslash then double-quote
    * (mirrored construct-for-construct in the DuckDB oracle). Control
    * characters are assumed absent — the fields are Salesforce record ids,
    * topic paths, and instance URLs.
    */
  private def jsonEsc(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    replace(replace(c, lit("\\"), lit("\\\\")), lit("\""), lit("\\\""))

  /** P5/P7 — the webhook payload body per delivery row: the same field
    * shape the reference POSTs (`app/services/sf_pubsub.py:736-744`), with
    * quotes/backslashes in values JSON-escaped (the reference serializes
    * via json.dumps, which also escapes; exact bytes differ in separator
    * whitespace only). Shared by the `cdc_payload_json` oracle query and
    * the live sink, so the oracle checks exactly what goes over the wire.
    */
  def payloadJson(deliveries: DataFrame): DataFrame =
    deliveries.select(col("id"), concat(
      lit("""{"data":[{"Id":""""), jsonEsc(col("id")),
      lit("""","subscriptionTopic":""""), jsonEsc(col("subscription_topic")),
      lit("""","instanceUrl":""""), jsonEsc(col("instance_url")),
      lit(""""}]}""")).as("payload_json"))

  /** POST every body through a window of [[Window]] concurrent
    * `postWithRetry` calls, awaited oldest first; returns once all are
    * acknowledged. Awaiting in order bounds what a failing post lets
    * through (and a replay re-delivers) to the window behind it. The first
    * failure, or an interrupt of the calling thread, cancels the posts
    * still in flight (interrupting them) and is rethrown as is.
    */
  private def postAll(cfg: Config, bodies: Iterator[String]): Unit = {
    val inflight = new java.util.ArrayDeque[Future[Unit]]()
    def awaitOldest(): Unit = {
      try inflight.peek().get() catch { case e: ExecutionException => throw e.getCause }
      inflight.poll()
    }
    try {
      bodies.foreach { body =>
        if (inflight.size == Window) awaitOldest()
        inflight.add(pool.submit[Unit](() => postWithRetry(cfg, body)))
      }
      while (!inflight.isEmpty) awaitOldest()
    } catch {
      case e: Throwable =>
        inflight.forEach(_.cancel(true))
        throw e
    }
  }

  /** foreachBatch delivery over the rows of the one `payload_json`
    * column (see [[payloadJson]]) that [[Streaming.startToWebhook]] binds
    * its planned route to each epoch: one job whose partition tasks post
    * their bodies from the executors through [[postAll]]. Any
    * exhausted-retry failure propagates and aborts the epoch (gated
    * commit).
    */
  def deliver(cfg: Config)(rows: RDD[InternalRow]): Unit =
    rows.sparkContext.runJob(rows, new PostPartition(cfg))

  /** [[deliver]]'s task body as a named class, not a lambda: Spark's
    * closure cleaner returns at once for it, where cleaning a
    * `foreachPartition` lambda took ~7 ms of each epoch's driver time.
    */
  private final class PostPartition(cfg: Config)
      extends ((TaskContext, Iterator[InternalRow]) => Unit) with Serializable {
    def apply(task: TaskContext, part: Iterator[InternalRow]): Unit =
      postAll(cfg, part.map(_.getUTF8String(0).toString))
  }
}
