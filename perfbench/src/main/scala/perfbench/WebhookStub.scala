package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** One POST as the stub saw it. Times are the stub's: `arriveNs`/`endNs`
  * on the monotonic clock, `endMs` on the wall clock that streaming
  * progress timestamps use.
  */
final case class Post(hash: Long, body: String, attempt: Int, ok: Boolean,
    arriveNs: Long, endNs: Long, endMs: Long)

/** Localhost webhook endpoint for the CDC workloads: a fixed service delay
  * per POST, a [[FailureSchedule]] answering 500 to chosen attempts, and a
  * record of every POST. Served by at most `threads` daemon threads, so the
  * stub can never keep the JVM alive after the run.
  */
final class WebhookStub(threads: Int, serviceDelayMs: Long,
    schedule: FailureSchedule) {
  private val attempts = new ConcurrentHashMap[java.lang.Long, AtomicInteger]()
  private val log = new ConcurrentLinkedQueue[Post]()
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "webhook-stub")
    t.setDaemon(true)
    t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), threads)
  server.setExecutor(pool)
  server.createContext("/hook", (x: HttpExchange) => handle(x))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/hook"

  private def handle(x: HttpExchange): Unit = {
    val arrive = System.nanoTime()
    try {
      val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
      val h = Stats.payloadHash(body)
      val n = attempts.computeIfAbsent(h, _ => new AtomicInteger()).incrementAndGet()
      if (serviceDelayMs > 0) Thread.sleep(serviceDelayMs)
      val ok = !schedule.fails(h, n)
      x.sendResponseHeaders(if (ok) 200 else 500, -1)
      log.add(Post(h, body, n, ok, arrive, System.nanoTime(), System.currentTimeMillis()))
    } finally x.close()
  }

  def posts: Seq[Post] = {
    import scala.jdk.CollectionConverters._
    log.asScala.toSeq
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
