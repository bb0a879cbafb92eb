package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Listener lifecycle: start/stop/restart per client over spark.streams,
  * the reference's stop-timeout and restart-loop semantics with their
  * backoff, failure triage (fatal, invalid replay, transient) and the K3
  * replay heal in the loop, the idle watchdog, and the K4 first-failure-or-
  * fatal alert policy with the SMTP-shaped record.
  */
class ListenerManagerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val src: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-lm-src").toString
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def eventually(timeoutMs: Long = 20000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond)
  }

  /** A healthy long-running listener query named by the board convention. */
  private def healthySubscribe(clientId: String) = {
    val ckp = java.nio.file.Files.createTempDirectory(s"graft-lm-ckp-$clientId").toString
    Streaming.routed(spark, Streaming.PipelineSpec(clientId, src, ckp))
      .writeStream.queryName(StatusBoard.queryName(clientId))
      .option("checkpointLocation", ckp)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .format("noop").start()
  }

  /** A terminating (AvailableNow) run whose delivery callback is `deliver`. */
  private def oneShotSubscribe(clientId: String)(
      deliver: (DataFrame, Long) => Unit) = {
    val ckp = java.nio.file.Files.createTempDirectory(s"graft-lm-os-$clientId").toString
    Streaming.start(spark, Streaming.PipelineSpec(clientId, src, ckp))(deliver)
  }

  test("start two listeners, restart one, stop both; board tracks each transition") {
    val mgr = new ListenerManager(sleep = _ => ())
    val clients = Seq("c1", "c2", "c3").toDF("client_id")
    try {
      mgr.start("c1")(healthySubscribe)
      mgr.start("c2")(healthySubscribe)
      eventually() {
        mgr.status("c1").status == "running" && mgr.status("c2").status == "running"
      }
      // live board sees both listeners, c3 stays stopped
      val up = StatusBoard.clientStatusBoard(spark, clients)
        .select("client_id", "status").as[(String, String)].collect().toMap
      assert(up === Map("c1" -> "running", "c2" -> "running", "c3" -> "stopped"))

      // idempotent start: a second start on a running listener is a no-op
      val runIdBefore = spark.streams.active
        .find(_.name == StatusBoard.queryName("c1")).get.runId
      mgr.start("c1")(healthySubscribe)
      assert(spark.streams.active
        .find(_.name == StatusBoard.queryName("c1")).get.runId === runIdBefore)

      // restart: same name comes back under a new runId
      mgr.restart("c1")(healthySubscribe)
      eventually() {
        spark.streams.active.find(_.name == StatusBoard.queryName("c1"))
          .exists(_.runId != runIdBefore)
      }
      eventually()(mgr.status("c1").status == "running")

      // stop both: manager states and the live board agree
      mgr.stop("c1"); mgr.stop("c2")
      assert(mgr.status("c1").status === "stopped")
      assert(mgr.status("c2").status === "stopped")
      eventually() {
        !spark.streams.active.exists(_.name.startsWith("listener-"))
      }
      val down = StatusBoard.clientStatusBoard(spark, clients)
        .select("client_id", "status").as[(String, String)].collect().toMap
      assert(down.values.forall(_ == "stopped"))
      // manager's own frame keeps the lifecycle view for J1 joins
      assert(mgr.statusFrame(spark).columns.toSeq ===
        Seq("client_id", "status", "started_at_ms", "last_error", "fail_count"))
    } finally mgr.stopAll()
  }

  test("K4: first transient failure alerts once, then the restart loop recovers") {
    val alerts = new ConcurrentLinkedQueue[ListenerManager.Alert]()
    val mgr = new ListenerManager(sleep = _ => (), onAlert = alerts.add(_))
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      mgr.start("cT") { id =>
        oneShotSubscribe(id) { (b, _) =>
          if (runs.incrementAndGet() <= 2) throw new RuntimeException("transient boom")
          b.count(); ()
        }
      }
      // two failing runs then a clean one; the runner retries through both
      // failures but alerts only on the FIRST (fail_count==1 && not sent)
      eventually()(mgr.status("cT").status == "stopped")
      assert(runs.get() >= 3)
      val got = alerts.asScala.toSeq
      assert(got.length === 1)
      assert(got.head.clientId === "cT")
      assert(!got.head.fatal && got.head.failCount === 1)
      assert(got.head.message.contains("transient boom"), got.head.message)
    } finally mgr.stopAll()
  }

  test("K4: fatal config error alerts once, stops with status error, never restarts") {
    val alerts = new ConcurrentLinkedQueue[ListenerManager.Alert]()
    val mgr = new ListenerManager(sleep = _ => (), onAlert = alerts.add(_))
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      mgr.start("cF") { id =>
        oneShotSubscribe(id) { (_, _) =>
          runs.incrementAndGet()
          throw new ListenerManager.FatalConfigError("topic not found")
        }
      }
      eventually()(mgr.status("cF").status == "error")
      // give the runner a beat: it must NOT start another run
      Thread.sleep(500)
      assert(runs.get() === 1)
      assert(alerts.size === 1)
      assert(alerts.peek().fatal)
      assert(mgr.status("cF").last_error.exists(_.contains("topic not found")) ||
        mgr.status("cF").fail_count === 1)
    } finally mgr.stopAll()
  }

  test("start-active: one-call bulk start; a bad client doesn't block the rest") {
    // reference POST /listeners/start-active (listeners.py:119-123): start
    // every is_active client. cBad's subscribe throws fatal inside its
    // runner; cSync's subscribe factory throws on the start call itself.
    // Neither may prevent the healthy clients from coming up, and the
    // inactive client must not be started at all.
    val mgr = new ListenerManager(sleep = _ => ())
    val clients = Seq(
      ("cA", true), ("cBad", true), ("cB", true), ("cOff", false)
    ).toDF("client_id", "is_active")
    try {
      val (started, failedSync) = mgr.startActive(clients) {
        case "cBad" => oneShotSubscribe("cBad") { (_, _) =>
            throw new ListenerManager.FatalConfigError("topic not found")
          }
        case id => healthySubscribe(id)
      }
      // all three active clients get a start call — subscribe failures
      // surface through the runner as per-client status, never as a throw
      // out of startActive (so no client can block the ones after it)
      assert(started.toSet === Set("cA", "cBad", "cB"))
      assert(failedSync.isEmpty)
      eventually()(mgr.status("cA").status == "running")
      eventually()(mgr.status("cB").status == "running")
      eventually()(mgr.status("cBad").status == "error")
      assert(mgr.status("cOff").status === "stopped")
    } finally mgr.stopAll()
  }

  test("K4: clean stop raises no alert") {
    val alerts = new ConcurrentLinkedQueue[ListenerManager.Alert]()
    val mgr = new ListenerManager(sleep = _ => (), onAlert = alerts.add(_))
    try {
      mgr.start("cS")(healthySubscribe)
      eventually()(mgr.status("cS").status == "running")
      mgr.stop("cS")
      eventually()(mgr.status("cS").status == "stopped")
      assert(alerts.isEmpty)
    } finally mgr.stopAll()
  }

  test("K3 in the lifecycle loop: poisoned stored replay heals and re-delivers, no alert") {
    val alerts = new ConcurrentLinkedQueue[ListenerManager.Alert]()
    val stored = new java.util.concurrent.atomic.AtomicReference[Option[String]](Some("99"))
    val mgr = new ListenerManager(sleep = _ => (), onAlert = alerts.add(_),
      invalidReplayHeal = Some(_ => stored.set(None))) // the Offsets.clear analog
    val log = java.nio.file.Files.createTempFile("graft-lm-replay", ".jsonl")
    java.nio.file.Files.write(log,
      (0 until 10).map(i => s"""{"entity":"A","change_type":"UPDATE","record_ids":["R$i"],"commit_raw":$i,"flash_raw":"true"}""")
        .mkString("\n").getBytes)
    val delivered = new java.util.concurrent.atomic.AtomicLong(0L)
    val subscribes = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      mgr.start("cR") { _ =>
        subscribes.incrementAndGet()
        spark.readStream
          .format(classOf[graft.sources.ReplayLogSourceProvider].getName)
          .option("path", log.toString)
          .option("startingReplay", stored.get().getOrElse("earliest"))
          .option("validateReplay", "true")
          .load()
          .writeStream
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(s"graft-lm-rckp-${subscribes.get()}").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) => delivered.addAndGet(b.count()); () }
          .start()
      }
      // run 1 fails INVALID_ARGUMENT (replay 99 > 10 lines) → heal clears
      // the stored offset → run 2 subscribes from earliest and delivers all
      eventually()(mgr.status("cR").status == "stopped")
      assert(subscribes.get() === 2)
      assert(delivered.get() === 10L)
      assert(stored.get().isEmpty)
      assert(alerts.isEmpty) // self-heal is not a failure
    } finally mgr.stopAll()
  }

  test("runner backoff: base, ×2, capped at capMs, and reset by a success") {
    val sleeps = new ConcurrentLinkedQueue[Long]()
    val mgr = new ListenerManager(baseDelayMs = 100L, capMs = 500L, sleep = sleeps.add(_))
    val runs = new AtomicInteger(0)
    try {
      mgr.start("cB") { id =>
        runs.incrementAndGet() match {
          case n if n <= 5 => throw new RuntimeException(s"subscribe failed $n")
          // the subscribe succeeds, so its run's failure backs off from the
          // base delay again
          case 6 => oneShotSubscribe(id)((_, _) => throw new RuntimeException("run failed"))
          case _ => oneShotSubscribe(id) { (b, _) => b.count(); () }
        }
      }
      eventually()(mgr.status("cB").status == "stopped")
      assert(runs.get() === 7)
      assert(sleeps.asScala.toSeq === Seq(100L, 200L, 400L, 500L, 500L, 100L))
    } finally mgr.stopAll()
  }

  test("runner heal: an uncured heal re-enters at once, repeats back off, and a success resets the streak") {
    val sleeps = new ConcurrentLinkedQueue[Long]()
    val heals = new AtomicInteger(0)
    val mgr = new ListenerManager(baseDelayMs = 100L, capMs = 500L, sleep = sleeps.add(_),
      invalidReplayHeal = Some(_ => { heals.incrementAndGet(); () }))
    val runs = new AtomicInteger(0)
    def invalid(n: Int) = new IllegalArgumentException(s"INVALID_ARGUMENT: replay id $n is not valid")
    try {
      mgr.start("cH") { id =>
        runs.incrementAndGet() match {
          case n if n <= 3 => throw invalid(n) // the heal does not cure it
          case 4 => oneShotSubscribe(id)((_, _) => throw invalid(4))
          case _ => oneShotSubscribe(id) { (b, _) => b.count(); () }
        }
      }
      eventually()(mgr.status("cH").status == "stopped")
      assert(runs.get() === 5 && heals.get() === 4)
      // heals 2 and 3 back off; heal 1 and heal 4, the first after a
      // successful subscribe, re-enter at once
      assert(sleeps.asScala.toSeq === Seq(100L, 200L))
    } finally mgr.stopAll()
  }

  test("triage: INVALID_ARGUMENT + replay anywhere in the cause chain") {
    val inner = new IllegalArgumentException(
      "INVALID_ARGUMENT: requested replay id 99 is not valid for this stream")
    assert(ListenerManager.isInvalidReplay(inner))
    assert(ListenerManager.isInvalidReplay(new RuntimeException("query failed", inner)))
    assert(!ListenerManager.isInvalidReplay(new RuntimeException("INVALID_ARGUMENT: bad topic")))
    assert(!ListenerManager.isInvalidReplay(new RuntimeException("replay looks fine but transport died")))
  }

  test("triage: a cause cycle ends both cause-chain walks") {
    val a = new RuntimeException("a")
    val b = new RuntimeException("b", a)
    a.initCause(b)
    @volatile var verdicts: Option[(Boolean, Boolean)] = None
    val t = new Thread(() =>
      verdicts = Some((ListenerManager.isFatal(a), ListenerManager.isInvalidReplay(a))))
    t.setDaemon(true)
    t.start()
    t.join(10000L)
    assert(verdicts === Some((false, false)), "a cause-chain walk did not end on a cause cycle")
  }

  test("idle watchdog: listeners idle past the timeout are restarted by the sweep") {
    val offset = new java.util.concurrent.atomic.AtomicLong(0L)
    val wd = new ListenerManager.IdleWatchdog(
      idleTimeoutMs = 300000L, clock = () => System.currentTimeMillis() + offset.get())
    spark.streams.addListener(wd)
    val mgr = new ListenerManager(sleep = _ => ())
    try {
      mgr.start("cI")(healthySubscribe)
      eventually()(mgr.status("cI").status == "running")
      val runIdBefore = spark.streams.active
        .find(_.name == StatusBoard.queryName("cI")).get.runId
      // watchdog must have seen the start event before we age it
      eventually()(wd.idleQueries().isEmpty && {
        val q = spark.streams.active.find(_.name == StatusBoard.queryName("cI")).get
        wd.lastDataAt(q.id).isDefined
      })
      assert(mgr.restartIdle(wd)(healthySubscribe) === Seq.empty) // fresh = not idle
      offset.set(301000L) // 301 s later, no data since
      eventually()(wd.idleQueries().nonEmpty)
      assert(mgr.restartIdle(wd)(healthySubscribe) === Seq("cI"))
      eventually() {
        spark.streams.active.find(_.name == StatusBoard.queryName("cI"))
          .exists(_.runId != runIdBefore) && mgr.status("cI").status == "running"
      }
    } finally {
      mgr.stopAll()
      spark.streams.removeListener(wd)
    }
  }

  test("idle watchdog flags queries without data progress past the timeout") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.lit
    @volatile var now = 1000L
    val wd = new ListenerManager.IdleWatchdog(idleTimeoutMs = 300000L, clock = () => now)
    val src = java.nio.file.Files.createTempDirectory("graft-wd-src").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-wd-ckp").toString
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(src)
    spark.streams.addListener(wd)
    val spec = Streaming.PipelineSpec("c1", src, ckp)
    // long-running query (ProcessingTime, not AvailableNow) so the entry
    // stays registered while we advance the fake clock
    val q = Streaming.routed(spark, spec).withColumn("client_id", lit("c1"))
      .writeStream.option("checkpointLocation", ckp)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .format("noop").start()
    try {
      // wait until the listener has seen a data-bearing progress event
      val deadline = System.currentTimeMillis() + 30000
      while (wd.lastDataAt(q.id).isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
      }
      assert(wd.lastDataAt(q.id).isDefined, "query never reported data progress")
      assert(!wd.isIdle(q.id), "data progress observed → not idle")
      now += 301000L // 301 s of silence (source is exhausted)
      assert(wd.isIdle(q.id), "no data progress past timeout → idle")
      assert(wd.idleQueries().contains(q.id))
    } finally {
      q.stop()
      spark.streams.removeListener(wd)
    }
  }

  test("idle watchdog flags a dead-from-birth stream that never receives data") {
    // The reference initializes last_rx at subscribe time
    // (sf_pubsub.py:557), so a stream that hangs before its first message
    // is still reset after the timeout — the most common hang mode.
    import org.apache.spark.sql.streaming.Trigger
    @volatile var now = 1000L
    val wd = new ListenerManager.IdleWatchdog(idleTimeoutMs = 300000L, clock = () => now)
    val src = java.nio.file.Files.createTempDirectory("graft-wd-empty").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-wd-empty-ckp").toString
    spark.streams.addListener(wd)
    // schema-only stream over an empty directory: starts, never sees a row
    val empty = spark.readStream
      .schema(graft.Tables.events(spark, "/root/testdata/sf0.001").schema)
      .parquet(src)
    val q = empty.writeStream.option("checkpointLocation", ckp)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .format("noop").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (wd.lastDataAt(q.id).isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
      }
      assert(wd.lastDataAt(q.id).isDefined, "start must arm the idle timer")
      assert(!wd.isIdle(q.id), "just started → not yet idle")
      now += 301000L
      assert(wd.isIdle(q.id), "no data since start past timeout → idle")
    } finally {
      q.stop()
      spark.streams.removeListener(wd)
    }
  }

  test("managed status board: manager's error state wins over the live view") {
    val mgr = new ListenerManager(sleep = _ => ())
    val clients = Seq("cOk", "cBad", "cNone").toDF("client_id")
    try {
      mgr.start("cOk")(healthySubscribe)
      mgr.start("cBad") { id =>
        oneShotSubscribe(id) { (_, _) =>
          throw new ListenerManager.FatalConfigError("bad topic")
        }
      }
      eventually()(mgr.status("cOk").status == "running" &&
        mgr.status("cBad").status == "error")
      val board = StatusBoard.managedStatusBoard(spark, clients, mgr)
        .select("client_id", "status", "running")
        .collect().map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
      assert(board("cOk") === ("running", true))
      // the failed query is gone from spark.streams — only the manager
      // still knows it ended in error
      assert(board("cBad") === ("error", false))
      assert(board("cNone") === ("stopped", false))
    } finally mgr.stopAll()
  }

  test("pool diagnostics: per-state counts with total; executor pool gauges") {
    // reference GET /debug/pool (app/main.py:73-136): db_activity =
    // per-state counts + total; pool = per-process connection gauges.
    val mgr = new ListenerManager(sleep = _ => ())
    try {
      mgr.start("dA")(healthySubscribe)
      mgr.start("dB")(healthySubscribe)
      eventually() {
        mgr.status("dA").status == "running" && mgr.status("dB").status == "running"
      }
      val act = StatusBoard.activityByState(mgr.statusFrame(spark))
        .as[(String, Long)].collect().toMap
      assert(act("running") === 2L)
      assert(act("total") === 2L)
      mgr.stop("dA")
      val act2 = StatusBoard.activityByState(mgr.statusFrame(spark))
        .as[(String, Long)].collect().toMap
      assert(act2("running") === 1L && act2("stopped") === 1L && act2("total") === 2L)
      val pool = StatusBoard.executorPool(spark).collect()
      assert(pool.nonEmpty) // local mode: the driver is the one executor
      assert(pool.forall(_.getAs[Int]("max_concurrency") > 0))
    } finally mgr.stopAll()
  }

  test("SMTP shape: mode by port, enabled gate, reference message fields") {
    import EmailAlerts._
    val ssl = SmtpConfig(host = "smtp.example.com", port = 465, user = "u@x.com",
      password = "pw", notificationEmail = "ops@x.com")
    val tls = ssl.copy(port = 587)
    val plain = ssl.copy(port = 2525, useTls = false)
    assert(ssl.mode === "ssl")       // 465 = implicit SSL, never STARTTLS
    assert(tls.mode === "starttls")  // 587 = STARTTLS
    assert(plain.mode === "plain")
    assert(ssl.enabled)
    assert(!ssl.copy(password = "").enabled) // missing any of the four disables

    val mail = listenerErrorEmail(tls, "42", "Acme", "boom happened",
      topicName = Some("/data/AccountChangeEvent"))
    assert(mail.smtp_host === "smtp.example.com" && mail.smtp_port === 587)
    assert(mail.mode === "starttls")
    assert(mail.from_email === "u@x.com") // falls back to user
    assert(mail.to_email === "ops@x.com")
    assert(mail.subject === "Listener Error: Acme (ID: 42)")
    assert(mail.body.contains("- Client ID: 42"))
    assert(mail.body.contains("- Client Name: Acme"))
    assert(mail.body.contains("- Topic: /data/AccountChangeEvent"))
    assert(mail.body.contains("boom happened"))

    // alert → email composition: the record a relay consumes is a frame row
    val alert = ListenerManager.Alert("42", fatal = true, 1, "boom happened")
    val df = Seq(listenerErrorEmail(ssl, alert.clientId, "Acme", alert.message)).toDF()
    assert(df.columns.toSeq === Seq("smtp_host", "smtp_port", "mode",
      "from_email", "to_email", "subject", "body"))
    assert(df.count() === 1L)
  }
}
