package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import java.net.{InetAddress, ServerSocket}
import java.util.concurrent.atomic.AtomicInteger

/** K1 retry on the running path, [[WebhookSink.postWithRetry]], when the
  * transport itself fails: no HTTP status ever comes back.
  */
class ReliabilitySpec extends AnyFunSuite {

  /** Accepts each connection, counts it and closes it unanswered, so every
    * post fails with an `IOException` rather than a non-2xx status.
    */
  private final class HangUpEndpoint {
    val connections = new AtomicInteger(0)
    private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
    private val acceptor = new Thread(() => {
      try while (true) { val s = server.accept(); connections.incrementAndGet(); s.close() }
      catch { case _: java.io.IOException => () } // closed by stop()
    }, "hang-up-endpoint")
    acceptor.setDaemon(true)
    acceptor.start()
    val url: String = s"http://127.0.0.1:${server.getLocalPort}/hook"
    def stop(): Unit = server.close()
  }

  test("retry: exhausted attempts rethrow (epoch aborts → gated replay)") {
    val ep = new HangUpEndpoint
    try {
      val cfg = WebhookSink.Config(ep.url, timeoutMs = 5000L, maxAttempts = 3,
        baseDelayMs = 1L, capMs = 8L)
      // the throw is what aborts the epoch uncommitted, so the restarted
      // stream replays it from the checkpoint
      val e = intercept[RuntimeException] { WebhookSink.postWithRetry(cfg, """{"ping":4}""") }
      assert(e.getMessage.contains("after 3 attempts"), e.getMessage)
      assert(e.getMessage.contains("Exception"), s"the transport failure is named: ${e.getMessage}")
      assert(ep.connections.get() === 3, "each attempt is one connection, and none is retried twice")
    } finally ep.stop()
  }
}
