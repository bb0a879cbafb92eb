package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** The per-client listener lifecycle facade — the reference's
  * `ListenerManager` (`app/services/listener_manager.py:186-224`: a
  * lock-guarded registry of per-client listeners with idempotent `start`,
  * `stop` with a 10 s timeout then force-cancel, `restart` = stop+start)
  * over `spark.streams`. It is the one place that triages a listener's
  * failure: a [[ListenerManager.FatalConfigError]] stops it, an
  * invalid-replay failure ([[ListenerManager.isInvalidReplay]]) heals it
  * through `invalidReplayHeal` (clear the stored offset, resubscribe from
  * earliest, no alert), and anything else restarts it with backoff. The
  * idle-watchdog reset is [[ListenerManager.restartIdle]].
  *
  * Each started client runs a daemon *runner* thread reproducing the
  * reference's `_runner` loop (`listener_manager.py:96-176`): subscribe,
  * await termination; a transient failure marks `error`, backs off
  * (1 s → ×2 → cap 60 s) and resubscribes until stopped, with no bound on
  * the number of restarts; a fatal failure anywhere in the cause chain
  * stops immediately with status `error` (restarting cannot fix a bad
  * topic/creds). Statuses move through the reference's state strings:
  * stopped → starting → running → (stopping|error) → stopped.
  *
  * K4 alert policy, exactly the reference's trigger sites
  * (`listener_manager.py:131-166`): one alert on the FIRST transient
  * failure of a run, one alert on any fatal failure, none on clean stop —
  * at most one alert per started run (the `_error_email_sent` latch,
  * reset by `start`). Alerts surface through `onAlert` as data; pair with
  * [[EmailAlerts.listenerErrorEmail]] for the SMTP-shaped record.
  *
  * Driver-side by construction: the registry holds as many entries as
  * clients with listeners (control-plane cardinality); all data movement
  * stays inside the streaming queries themselves.
  */
object ListenerManager {

  /** The reference's `ListenerState` dataclass (`listener_manager.py:20-27`). */
  case class ListenerState(
      client_id: String,
      status: String,
      started_at_ms: Option[Long],
      last_error: Option[String],
      fail_count: Int) {
    def running: Boolean = status == "starting" || status == "running"
  }

  /** One alert occurrence (feed to [[EmailAlerts.listenerErrorEmail]]). */
  case class Alert(clientId: String, fatal: Boolean, failCount: Int, message: String)

  /** Non-retryable error class (reference `FatalConfigError`,
    * `app/services/sf_pubsub.py:33-35`): a bad topic or bad credentials,
    * which no restart can fix.
    */
  final class FatalConfigError(msg: String, cause: Throwable = null)
      extends RuntimeException(msg, cause)

  /** A failure and its causes, outermost first. The walk stops after 20
    * links, so a cause cycle (`a.initCause(b)` with `b` caused by `a`)
    * ends instead of pinning the runner thread.
    */
  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20)

  /** True when a [[FatalConfigError]] is anywhere in the cause chain
    * (the reference's fatal classification, `sf_pubsub.py:462-486`).
    */
  def isFatal(e: Throwable): Boolean = causes(e).exists(_.isInstanceOf[FatalConfigError])

  /** True when a failure in the cause chain has the reference's
    * invalid-replay shape (`sf_pubsub.py:462-486`): INVALID_ARGUMENT
    * mentioning the replay id.
    */
  def isInvalidReplay(e: Throwable): Boolean = causes(e).exists { c =>
    val m = Option(c.getMessage).getOrElse("")
    m.contains("INVALID_ARGUMENT") && m.toLowerCase.contains("replay")
  }

  /** Idle watchdog — the reference resets a stream after 300 s without
    * messages (`watchdog`, `app/services/sf_pubsub.py:588-596`; heartbeat
    * re-credits every 60 s `:579-586`). Spark analog: track per-query
    * *data* progress via StreamingQueryListener (empty micro-batches do
    * not count as liveness, matching the reference's "messages received"
    * notion) and report queries idle past the timeout, which
    * [[ListenerManager.restartIdle]] restarts. The idle timer starts at
    * query start (the reference initializes `last_rx = loop.time()` at
    * subscribe, `app/services/sf_pubsub.py:557`), so a stream that never
    * receives a single row — the most common hang mode — still goes idle
    * after the timeout. Clock injectable for deterministic tests.
    */
  final class IdleWatchdog(idleTimeoutMs: Long = 300000L,
      clock: () => Long = System.currentTimeMillis)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val lastData = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()

    override def onQueryStarted(e: QueryStartedEvent): Unit =
      lastData.put(e.id, clock())
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) lastData.put(e.progress.id, clock())
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      lastData.remove(e.id)

    /** Timestamp of the last liveness event: query start, or the most
      * recent data-bearing progress.
      */
    def lastDataAt(id: java.util.UUID): Option[Long] = Option(lastData.get(id))

    def isIdle(id: java.util.UUID): Boolean =
      lastDataAt(id).exists(clock() - _ > idleTimeoutMs)
    def idleQueries(): Seq[java.util.UUID] = {
      import scala.jdk.CollectionConverters._
      lastData.keySet().asScala.filter(isIdle).toSeq
    }
  }
}

final class ListenerManager(
    stopTimeoutMs: Long = 10000L,
    baseDelayMs: Long = 1000L,
    capMs: Long = 60000L,
    sleep: Long => Unit = Thread.sleep,
    onAlert: ListenerManager.Alert => Unit = _ => (),
    clock: () => Long = System.currentTimeMillis,
    invalidReplayHeal: Option[String => Unit] = None) {
  import ListenerManager._

  private final class Managed(val clientId: String) {
    @volatile var status: String = "stopped"
    @volatile var startedAtMs: Option[Long] = None
    @volatile var lastError: Option[String] = None
    @volatile var failCount: Int = 0
    @volatile var stopRequested: Boolean = false
    @volatile var alertSent: Boolean = false
    @volatile var query: Option[StreamingQuery] = None
    @volatile var runner: Option[Thread] = None
    def isRunning: Boolean = runner.exists(_.isAlive)
  }

  private val listeners = mutable.Map.empty[String, Managed]

  private def snapshot(m: Managed): ListenerState =
    ListenerState(m.clientId, m.status, m.startedAtMs, m.lastError, m.failCount)

  /** Idempotent start (`listener_manager.py:192-200`): an already-running
    * listener is left alone. `subscribe` receives the client id and must
    * return a STARTED StreamingQuery — name it
    * [[StatusBoard.queryName]]`(clientId)` so the status board joins back.
    */
  def start(clientId: String)(subscribe: String => StreamingQuery): ListenerState =
    synchronized {
      val m = listeners.getOrElseUpdate(clientId, new Managed(clientId))
      if (!m.isRunning) {
        m.stopRequested = false
        m.alertSent = false
        m.status = "starting"
        m.startedAtMs = Some(clock())
        m.lastError = None
        m.failCount = 0
        val t = new Thread(() => runnerLoop(m, subscribe), s"listener-runner-$clientId")
        t.setDaemon(true)
        m.runner = Some(t)
        t.start()
      }
      snapshot(m)
    }

  /** The reference's `_runner` restart loop (`listener_manager.py:96-176`). */
  private def runnerLoop(m: Managed, subscribe: String => StreamingQuery): Unit = {
    var backoff = baseDelayMs
    var healStreak = 0 // consecutive invalid-replay heals with no success between
    var continue = true
    def backOff(): Unit = {
      sleep(math.min(backoff, capMs))
      backoff = math.min(backoff * 2, capMs)
    }
    try {
      while (continue && !m.stopRequested) {
        try {
          val q = subscribe(m.clientId)
          m.query = Some(q)
          // close the stop() race: a stop that read the PREVIOUS (or no)
          // query between subscribe() returning and the assignment above
          // has set stopRequested but stopped nothing — stop the fresh
          // query ourselves so it is never orphaned, still consuming the
          // source unmanaged
          if (m.stopRequested) { try q.stop() catch { case _: Throwable => () } }
          m.status = "running"
          m.lastError = None
          m.failCount = 0
          backoff = baseDelayMs
          healStreak = 0
          q.awaitTermination()
          continue = false // graceful completion or requested stop
        } catch {
          case _: InterruptedException =>
            continue = false // force-cancel from stop() timeout
          case e: Throwable
              if invalidReplayHeal.isDefined && isInvalidReplay(e) =>
            // K3 self-heal inside the lifecycle loop: clear the stored
            // offset and resubscribe from earliest — not a failure, no
            // alert (the reference clears `_clear_saved_replay` and
            // re-enters subscribe, sf_pubsub.py:886-891). The FIRST heal
            // re-enters immediately (the reference shape); a heal that
            // does not cure the failure would otherwise spin the runner
            // hot, so repeats back off like ordinary failures. A heal
            // callback that itself throws is a FAILURE, not a heal — it
            // must never kill the runner thread.
            healStreak += 1
            try invalidReplayHeal.get.apply(m.clientId)
            catch { case he: Throwable => failed(m, he, fatal = false) }
            if (healStreak > 1 || m.failCount > 0) backOff()
          case e: Throwable if isFatal(e) =>
            failed(m, e, fatal = true)
            continue = false // never retried (listener_manager.py:122-146)
          case _: Throwable if m.stopRequested =>
            continue = false // failure induced by the stop itself
          case e: Throwable =>
            failed(m, e, fatal = false)
            backOff()
        }
      }
    } finally {
      // only fall to "stopped" when we didn't exit on a fatal error
      // (listener_manager.py:174-176); the finally guarantees a runner
      // killed by ANY escaping throwable still reports a terminal status
      // instead of a permanent phantom "running"
      if (m.status != "error") m.status = "stopped"
    }
  }

  /** Mark the listener `error` and alert on a fatal failure or on the
    * first failure of a run.
    */
  private def failed(m: Managed, e: Throwable, fatal: Boolean): Unit = {
    m.status = "error"
    m.lastError = Some(e.getMessage)
    m.failCount += 1
    if (fatal || m.failCount == 1) fireAlert(m, fatal, e)
  }

  private def fireAlert(m: Managed, fatal: Boolean, e: Throwable): Unit =
    if (!m.alertSent) {
      m.alertSent = true
      try onAlert(Alert(m.clientId, fatal, m.failCount,
        Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      catch { case _: Throwable => () } // an alert sink must not kill the runner
    }

  /** Stop with the reference's timeout semantics
    * (`listener_manager.py:65-79`): request stop, stop the live query,
    * wait up to `stopTimeoutMs` for the runner, then force-interrupt.
    * Always leaves the listener `stopped` (the reference's `finally`).
    */
  def stop(clientId: String): ListenerState = {
    val mOpt = synchronized { listeners.get(clientId) }
    mOpt match {
      case None => ListenerState(clientId, "stopped", None, None, 0)
      case Some(m) =>
        if (m.isRunning) {
          m.status = "stopping"
          m.stopRequested = true
          m.query.foreach(q => try q.stop() catch { case _: Throwable => () })
          m.runner.foreach { t =>
            t.join(stopTimeoutMs)
            if (t.isAlive) t.interrupt() // the asyncio.TimeoutError → task.cancel() path
          }
        }
        m.status = "stopped"
        snapshot(m)
    }
  }

  /** stop + start (`listener_manager.py:208-210`). */
  def restart(clientId: String)(subscribe: String => StreamingQuery): ListenerState = {
    stop(clientId)
    start(clientId)(subscribe)
  }

  def status(clientId: String): ListenerState =
    synchronized { listeners.get(clientId) }
      .map(snapshot)
      .getOrElse(ListenerState(clientId, "stopped", None, None, 0))

  def states: Seq[ListenerState] =
    synchronized { listeners.values.map(snapshot).toSeq }

  /** Manager registry as a frame for J1-style joins — complements
    * [[StatusBoard.statuses]] (live `spark.streams` introspection) with
    * the manager's own lifecycle view (includes `error` listeners whose
    * queries are gone from `spark.streams`).
    */
  def statusFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    states.toDF()
  }

  /** Bulk lifecycle: start every active client in one call — the
    * reference's `POST /listeners/start-active`
    * (`app/routers/listeners.py:119-123` → `listener_manager.py:231-238`:
    * select clients WHERE is_active, start each). Per-client isolation
    * like the reference's loop: a client whose start call throws is
    * recorded and does NOT block the remaining clients (a bad config on
    * one client must not take down the fleet start). Subscribe failures
    * inside the runner (the normal path) surface per-client as status
    * `error` via the usual restart/alert policy, also without affecting
    * other clients.
    *
    * `clients` is a control-plane frame (driver-side cardinality — the
    * same rows the reference selects from Postgres); only `idCol` of the
    * active rows is collected.
    *
    * @return (client ids whose start was issued, (id, error) for clients
    *         whose start call itself threw)
    */
  def startActive(clients: DataFrame, idCol: String = "client_id",
      activeCol: String = "is_active")(
      subscribe: String => StreamingQuery): (Seq[String], Seq[(String, String)]) = {
    import org.apache.spark.sql.functions.col
    val ids = clients.filter(col(activeCol))
      .select(col(idCol).cast("string")).collect().map(_.getString(0)).toSeq
    val failed = mutable.ArrayBuffer.empty[(String, String)]
    val started = ids.flatMap { id =>
      try { start(id)(subscribe); Some(id) }
      catch {
        case e: Throwable =>
          failed += id -> Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          None
      }
    }
    (started, failed.toSeq)
  }

  /** Stop every managed listener (app-shutdown hook,
    * `listener_manager.py:216-224`).
    */
  def stopAll(): Unit =
    synchronized { listeners.keys.toSeq }.foreach(stop)

  /** The reference's idle watchdog action (`sf_pubsub.py:588-596`: reset a
    * stream after 300 s without messages): restart every managed listener
    * whose live query the [[IdleWatchdog]] reports idle.
    * Returns the restarted client ids. Call this on the operator's sweep
    * cadence; the watchdog listener itself must be registered with
    * `spark.streams.addListener`.
    */
  def restartIdle(watchdog: IdleWatchdog)(
      subscribe: String => StreamingQuery): Seq[String] = {
    val idle = watchdog.idleQueries().toSet
    val victims = synchronized {
      listeners.values
        .filter(m => m.isRunning && m.query.exists(q => idle.contains(q.id)))
        .map(_.clientId).toSeq
    }
    victims.foreach(c => restart(c)(subscribe))
    victims
  }
}
