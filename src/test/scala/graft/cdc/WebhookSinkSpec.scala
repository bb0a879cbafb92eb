package graft.cdc

import graft.SparkSpec
import graft.streaming.PlannedRoute
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, RDDScanExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** K1 — live HTTP webhook delivery against a local endpoint: the retry
  * contract, the bounded window of concurrent posts, the gated-commit
  * epoch replay when the endpoint is down or one payload keeps failing,
  * and a stop in the middle of delivery.
  */
class WebhookSinkSpec extends SparkSpec {

  /** Local webhook endpoint on a thread pool: counts attempts, records
    * bodies of accepted (2xx) posts and the peak number of posts in
    * flight, fails with 500 while `healthy` is false or `rejects` holds.
    */
  private class Endpoint {
    @volatile var healthy = true
    /** fail the first N attempts with 500 regardless of `healthy`. */
    @volatile var failFirst = 0
    /** bodies that fail every attempt. */
    @volatile var rejects: String => Boolean = _ => false
    /** service time of every post. */
    @volatile var delayMs = 0L
    val attempts = new AtomicInteger(0)
    val accepted = new ConcurrentLinkedQueue[String]()
    private val inflight = new AtomicInteger(0)
    val maxInflight = new AtomicInteger(0)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val n = attempts.incrementAndGet()
        maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max)
        var counted = true
        // the post ends for the client when the response goes out, and the
        // client may send its next post at once: stop counting it first,
        // or a slow handler thread shows one post more than the client has
        def ended(): Unit = if (counted) { counted = false; inflight.decrementAndGet() }
        try {
          val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
          if (delayMs > 0) Thread.sleep(delayMs)
          if (healthy && n > failFirst && !rejects(body)) {
            accepted.add(body); ended(); x.sendResponseHeaders(200, -1)
          } else { ended(); x.sendResponseHeaders(500, -1) }
        } catch {
          // the client gave up on this post, or the endpoint is stopping
          case _: java.io.IOException | _: InterruptedException => ()
        } finally {
          ended()
          x.close()
        }
      }
    })
    private val threads = Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "webhook-endpoint"); t.setDaemon(true); t
    }
    server.setExecutor(threads)
    server.start()
    val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
    def stop(): Unit = { server.stop(0); threads.shutdownNow() }
  }

  private def fastCfg(url: String) =
    WebhookSink.Config(url, timeoutMs = 5000L, maxAttempts = 3, baseDelayMs = 1L, capMs = 8L)

  test("postWithRetry: 2xx on a later attempt succeeds within the attempt budget") {
    val ep = new Endpoint
    try {
      ep.failFirst = 2 // attempts 1 and 2 get 500, attempt 3 succeeds
      WebhookSink.postWithRetry(fastCfg(ep.url), """{"ping":1}""")
      assert(ep.attempts.get() === 3)
      assert(ep.accepted.size() === 1)
    } finally ep.stop()
  }

  test("postWithRetry: exhausted attempts throw (epoch abort signal)") {
    val ep = new Endpoint
    try {
      ep.healthy = false
      val e = intercept[RuntimeException] {
        WebhookSink.postWithRetry(fastCfg(ep.url), """{"ping":2}""")
      }
      assert(e.getMessage.contains("after 3 attempts"))
      assert(ep.attempts.get() === 3)
    } finally ep.stop()
  }

  test("e2e: healthy endpoint receives exactly the payload rows of the route") {
    val ep = new Endpoint
    val src = java.nio.file.Files.createTempDirectory("graft-wh-src").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-wh-ckp").toString
    try {
      graft.Tables.events(spark, "/root/testdata/sf0.001")
        .coalesce(1).write.mode("overwrite").parquet(src)
      val spec = Streaming.PipelineSpec("c1", src, ckp)
      Streaming.startToWebhook(spark, spec, fastCfg(ep.url)).awaitTermination()
      val expected = WebhookSink.payloadJson(Pipeline.deliveries(spark, "/root/testdata/sf0.001"))
        .collect().map(_.getString(1)).toSet
      import scala.jdk.CollectionConverters._
      assert(ep.accepted.asScala.toSet === expected)
    } finally ep.stop()
  }

  test("e2e: dead endpoint aborts the epoch; restart replays and delivers everything") {
    val ep = new Endpoint
    val src = java.nio.file.Files.createTempDirectory("graft-wh2-src").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-wh2-ckp").toString
    try {
      graft.Tables.events(spark, "/root/testdata/sf0.001")
        .coalesce(1).write.mode("overwrite").parquet(src)
      val spec = Streaming.PipelineSpec("c1", src, ckp)
      ep.healthy = false
      intercept[Exception] {
        Streaming.startToWebhook(spark, spec, fastCfg(ep.url)).awaitTermination()
      }
      assert(ep.accepted.isEmpty, "nothing may count as delivered while the endpoint is down")
      // endpoint heals → same checkpoint replays the uncommitted epoch (K2)
      ep.healthy = true
      Streaming.startToWebhook(spark, spec, fastCfg(ep.url)).awaitTermination()
      val expected = WebhookSink.payloadJson(Pipeline.deliveries(spark, "/root/testdata/sf0.001"))
        .collect().map(_.getString(1)).toSet
      import scala.jdk.CollectionConverters._
      assert(ep.accepted.asScala.toSet === expected)
    } finally ep.stop()
  }

  /** The sf0.001 fixture tables (TESTDATA.md). */
  private val Sf0001 = "/root/testdata/sf0.001"

  /** One single-file source of the sf0.001 events (one epoch, one
    * partition) and a fresh checkpoint.
    */
  private def singleEpochSpec(): Streaming.PipelineSpec = {
    val src = java.nio.file.Files.createTempDirectory("graft-wh-src").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-wh-ckp").toString
    graft.Tables.events(spark, Sf0001).coalesce(1).write.mode("overwrite").parquet(src)
    Streaming.PipelineSpec("c1", src, ckp)
  }

  /** The payload bodies of the sf0.001 route, in row order. */
  private def expectedPayloads(): Seq[String] =
    WebhookSink.payloadJson(Pipeline.deliveries(spark, Sf0001))
      .collect().map(_.getString(1)).toSeq

  test("e2e: one partition posts through a window of concurrent posts, never wider") {
    val ep = new Endpoint
    try {
      ep.delayMs = 5
      val spec = singleEpochSpec()
      val expected = expectedPayloads()
      assert(expected.size > WebhookSink.Window)
      Streaming.startToWebhook(spark, spec, fastCfg(ep.url)).awaitTermination()
      assert(ep.accepted.asScala.toSet === expected.toSet)
      val peak = ep.maxInflight.get()
      assert(peak > 1 && peak <= WebhookSink.Window, s"peak in-flight posts $peak")
    } finally ep.stop()
  }

  test("e2e: the route is planned at start and never optimized on the stream thread, which reads four columns") {
    // Before, each epoch's incremental execution optimized the whole route
    // and Spark 4.1's SQL-execution start event optimized it again to
    // render its plan text: two optimizer runs per epoch on the stream
    // thread, each under its own planning tracker.
    val trackers = ConcurrentHashMap.newKeySet[QueryPlanningTracker]()
    val recordRouteRuns = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (Thread.currentThread().getName.startsWith("stream execution thread") &&
            plan.exists(_.isInstanceOf[Generate]))
          QueryPlanningTracker.get.foreach(trackers.add)
        plan
      }
    }
    val ep = new Endpoint
    val before = spark.experimental.extraOptimizations
    try {
      val src = java.nio.file.Files.createTempDirectory("graft-wh5-src").toString
      val ckp = java.nio.file.Files.createTempDirectory("graft-wh5-ckp").toString
      graft.Tables.events(spark, Sf0001).repartition(5).write.mode("overwrite").parquet(src)
      val expected = expectedPayloads()
      spark.experimental.extraOptimizations = before :+ recordRouteRuns
      val q = Streaming.startToWebhook(spark, Streaming.PipelineSpec("c1", src, ckp),
        fastCfg(ep.url))
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) === 5)
      assert(ep.accepted.asScala.toSet === expected.toSet)
      assert(trackers.isEmpty, s"${trackers.size} optimizer runs of the route on the stream thread")
      val reads = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        .executedPlan.collect { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq }
      assert(reads === Seq(Seq("event_id", "ts", "user_id", "event_type")))
    } finally {
      spark.experimental.extraOptimizations = before
      ep.stop()
    }
  }

  test("e2e: the route and payload projection are one codegen stage compiled at start, whose metrics count every epoch") {
    // Before, each epoch executed its own copy of the kept plan: Spark
    // generated the route's code again per epoch, and ran the pushed-down
    // predicate and the record-id projection outside codegen, regenerating
    // them per task. The copies owned the metrics, so the start-time plan's
    // stayed 0.
    val ep = new Endpoint
    try {
      val src = java.nio.file.Files.createTempDirectory("graft-wh6-src").toString
      val ckp = java.nio.file.Files.createTempDirectory("graft-wh6-ckp").toString
      graft.Tables.events(spark, Sf0001).repartition(5).write.mode("overwrite").parquet(src)
      val expected = expectedPayloads()
      val routes = ConcurrentHashMap.newKeySet[PlannedRoute]()
      // startToWebhook's composition, keeping the planned route it binds
      val q = Streaming.startOn(spark, Streaming.PipelineSpec("c1", src, ckp),
          Streaming.webhookPayload) { (route, batch, _) =>
        routes.add(route)
        WebhookSink.deliver(fastCfg(ep.url))(route.rows(batch))
      }
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) === 5)
      assert(ep.accepted.size === expected.size && ep.accepted.asScala.toSet === expected.toSet)
      assert(routes.size === 1)
      val plan: SparkPlan = routes.asScala.head.stage
      assert(plan.isInstanceOf[WholeStageCodegenExec], plan.treeString)
      assert(plan.collectLeaves().map(_.getClass) === Seq(classOf[RDDScanExec]), plan.treeString)
      assert(plan.children.forall(!_.exists {
        case _: WholeStageCodegenExec | _: InputAdapter => true
        case _ => false
      }), plan.treeString)
      val top = plan.collectFirst { case p if p.metrics.contains("numOutputRows") => p }.get
      assert(top.metrics("numOutputRows").value === expected.size, top.simpleString(200))
    } finally ep.stop()
  }

  test("e2e: an exhausted retry mid-partition aborts the epoch uncommitted; restart delivers everything") {
    val ep = new Endpoint
    try {
      val spec = singleEpochSpec()
      val expected = expectedPayloads()
      val bad = expected(expected.size / 2)
      ep.rejects = _ == bad
      val e = intercept[Exception] {
        Streaming.startToWebhook(spark, spec, fastCfg(ep.url)).awaitTermination()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => c.getMessage != null &&
        c.getMessage.startsWith("webhook delivery") &&
        c.getMessage.contains("failed after 3 attempts")), chain.mkString("\n"))
      assert(!chain.exists(_.isInstanceOf[java.util.concurrent.ExecutionException]))
      assert(!Reliability.isFatal(e))
      assert(!new java.io.File(spec.checkpointDir, "commits/0").exists(),
        "the aborted epoch must not be committed")
      assert(!ep.accepted.contains(bad))
      ep.rejects = _ => false
      Streaming.startToWebhook(spark, spec, fastCfg(ep.url)).awaitTermination()
      assert(ep.accepted.asScala.toSet === expected.toSet)
    } finally ep.stop()
  }

  test("e2e: a stop during delivery returns in time and no post follows it") {
    val ep = new Endpoint
    val holdMs = 5000L
    val stopTimeoutMs = 3000L
    try {
      ep.delayMs = holdMs
      val spec = singleEpochSpec()
      val cfg = fastCfg(ep.url).copy(timeoutMs = 60000L)
      val lm = new ListenerManager(stopTimeoutMs = stopTimeoutMs)
      lm.start(spec.clientId)(_ => Streaming.startToWebhook(spark, spec, cfg))
      val deadline = System.currentTimeMillis() + 120000L
      while (ep.attempts.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(ep.attempts.get() > 0, "delivery never started")
      Thread.sleep(200) // let the window fill
      val t0 = System.nanoTime()
      lm.stop(spec.clientId)
      val stopMs = (System.nanoTime() - t0) / 1000000L
      assert(stopMs < stopTimeoutMs, s"stop took $stopMs ms")
      val seen = ep.attempts.get()
      Thread.sleep(holdMs + 2000L) // past the held responses
      assert(ep.attempts.get() === seen, "a post reached the endpoint after stop returned")
    } finally ep.stop()
  }
}
