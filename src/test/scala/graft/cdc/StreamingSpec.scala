package graft.cdc

import graft.SparkSpec
import graft.streaming.{NioCheckpointFileManager, PlannedRoute}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import scala.jdk.CollectionConverters._

/** End-to-end streaming semantics (SURVEY §5 item 4): checkpointed
  * micro-batch run over events slices, failure-injected sink → replay
  * (at-least-once), checkpoint-resume parity with a cold batch run,
  * terminated-with-error alert capture (K4).
  */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Single-file micro-batches of CdcView-shaped events, split by
    * event_id at `cuts` (default: two slices, below and from 500).
    */
  private def writeSlices(srcDir: String, cuts: Seq[Long] = Seq(500L)): Unit = {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val ranges = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
    val subs = ranges.indices.map(i => s"s${i + 1}")
    for ((sub, (lo, hi)) <- subs.zip(ranges))
      ev.filter(col("event_id") >= lo && col("event_id") < hi).coalesce(1).write.parquet(s"$srcDir/$sub")
    // flatten: move part files up so the dir is a flat file source
    val d = new java.io.File(srcDir)
    for (sub <- subs; f <- new java.io.File(d, sub).listFiles()
         if f.getName.endsWith(".parquet")) {
      Files.move(f.toPath, new java.io.File(d, s"$sub.parquet").toPath)
    }
    subs.foreach { sub =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d, sub))
    }
  }

  test("streamed deliveries == batch deliveries (checkpoint parity)") {
    val src = tmp("graft-src"); val ckp = tmp("graft-ckp"); val out = tmp("graft-out")
    writeSlices(src)
    val spec = Streaming.PipelineSpec("c1", src, ckp)
    val q = Streaming.startToParquet(spark, spec, out)
    q.awaitTermination()
    val streamed = spark.read.parquet(out).drop("client_id")
    val batch = Pipeline.deliveries(CdcView(spark, "/root/testdata/sf0.001"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("routed streams a TIMESTAMP(MICROS) events generation — ts normalizes like the batch loader") {
    // The driver's current events.parquet stores ts as timestamp[us]. A
    // schema forced to LongType would hand the route RAW MICROS — every
    // commit_ms lands on the seconds scale, the since-filter drops 100%
    // of events, and the stream silently delivers nothing while the
    // batch twin (Tables.load, which normalizes per physical type)
    // delivers everything. routed must read the file's own ts type and
    // apply the same normalization.
    val src = tmp("graft-src-us"); val ckp = tmp("graft-ckp-us"); val out = tmp("graft-out-us")
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_id") < 500)
    ev.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      .coalesce(1).write.parquet(s"$src/s1")
    val d = new java.io.File(src)
    for (f <- new java.io.File(d, "s1").listFiles() if f.getName.endsWith(".parquet"))
      Files.move(f.toPath, new java.io.File(d, "s1.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d, "s1"))
    // fixture sanity: the written file really is timestamp-typed
    assert(spark.read.parquet(src).schema("ts").dataType
      === org.apache.spark.sql.types.TimestampNTZType)

    val q = Streaming.startToParquet(spark,
      Streaming.PipelineSpec("c1", src, ckp), out)
    q.awaitTermination()
    val streamed = spark.read.parquet(out).drop("client_id")
    val batch = Pipeline.deliveries(CdcView.fromEvents(ev))
    assert(streamed.count() > 0, "a micros-generation source must deliver rows")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "micros-typed streaming must equal the nanos-Long batch twin row-for-row")
  }

  test("gated commit: failing sink leaves offset uncommitted, batch replays on restart") {
    // The first run checkpoints either through Streaming.start (the nio
    // checkpoint manager) or through a plain writeStream in a session
    // without the manager key (Spark's default manager, which writes a
    // .crc beside each log file): the restart under Streaming.start must
    // resume both without re-running epoch 0 or re-sending its rows.
    val viaSparkDefault: (Streaming.PipelineSpec, (DataFrame, Long) => Unit) => StreamingQuery =
      (spec, deliver) => {
        val plain = spark.newSession()
        assert(plain.conf.getOption(NioCheckpointFileManager.Key).isEmpty)
        Streaming.routed(plain, spec).writeStream
          .option("checkpointLocation", spec.checkpointDir)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(deliver)
          .start()
      }
    val viaStart: (Streaming.PipelineSpec, (DataFrame, Long) => Unit) => StreamingQuery =
      (spec, deliver) => Streaming.start(spark, spec)(deliver)
    for ((firstRun, firstHasCrc) <- Seq(viaStart -> false, viaSparkDefault -> true)) {
      val src = tmp("graft-src2"); val ckp = tmp("graft-ckp2"); val out = tmp("graft-out2")
      writeSlices(src)
      val spec = Streaming.PipelineSpec("c1", src, ckp)
      val delivered = new java.util.concurrent.atomic.AtomicInteger(0)
      val replayed = new ConcurrentLinkedQueue[Long]()
      @volatile var failedOnce = false

      // first run: sink throws on the second micro-batch → epoch NOT committed
      val q1 = firstRun(spec, { (batch, epoch) =>
        if (epoch >= 1 && !failedOnce) { failedOnce = true; sys.error("webhook down") }
        batch.write.mode("append").parquet(out)
      })
      intercept[Exception] { q1.awaitTermination() }
      assert(failedOnce, "failure was injected")
      val afterFail = spark.read.parquet(out).count()
      assert(Files.exists(Paths.get(ckp, "commits", ".0.crc")) === firstHasCrc,
        "fixture: which manager wrote commits/0")

      // restart from the same checkpoint: ONLY the failed batch replays
      val q2 = Streaming.start(spark, spec) { (batch, epoch) =>
        replayed.add(epoch)
        delivered.addAndGet(batch.count().toInt)
        batch.write.mode("append").parquet(out)
      }
      q2.awaitTermination()
      val total = spark.read.parquet(out).count()
      val expected = Pipeline.deliveries(CdcView(spark, "/root/testdata/sf0.001")).count()
      // at-least-once: everything delivered; committed batch 0 NOT re-sent
      assert(replayed.asScala.toSeq === Seq(1L))
      assert(total === expected)
      assert(delivered.get() === (expected - afterFail))
      // the restart committed through the nio manager: no .crc of its own
      assert(Files.exists(Paths.get(ckp, "commits", "1")))
      assert(!Files.exists(Paths.get(ckp, "commits", ".1.crc")))
    }
  }

  test("a local checkpoint commits every epoch after the first without starting a process") {
    // Spark's local manager goes through Hadoop's RawLocalFileSystem,
    // which without native libhadoop forks chmod on each create and
    // readlink on each rename: about 30 processes per epoch on the stream
    // thread. The nio manager starts none once the logs' directories exist.
    val src = tmp("graft-src7"); val ckp = tmp("graft-ckp7")
    writeSlices(src, cuts = Seq(200L, 400L, 600L, 800L))
    val epochs = new ConcurrentLinkedQueue[Long]()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = try {
      // control: the recording sees a process this thread starts
      new ProcessBuilder("true").start().waitFor()
      val started = Streaming.start(spark, Streaming.PipelineSpec("c1", src, ckp)) { (batch, epoch) =>
        batch.collect()
        epochs.add(epoch)
      }
      started.awaitTermination()
      started
    } finally { rec.stop(); rec.dump(dump); rec.close() }
    assert(epochs.asScala.toSeq === (0L to 4L))
    val p0 = q.recentProgress.find(_.batchId == 0).get
    val firstCommit = Instant.parse(p0.timestamp).plusMillis(p0.durationMs.get("triggerExecution"))
    val starts = RecordingFile.readAllEvents(dump).asScala.toSeq
    def thread(e: RecordedEvent) = Option(e.getThread).map(_.getJavaName).getOrElse("")
    assert(starts.exists(thread(_) == Thread.currentThread().getName), "the control fork was not recorded")
    val late = starts.filter(e => thread(e).startsWith("stream execution thread") &&
      e.getStartTime.isAfter(firstCommit))
    assert(late.isEmpty, s"${late.size} processes started on the stream thread after epoch 0: " +
      late.take(3).map(_.getString("command")).mkString("; "))
  }

  test("each epoch's progress counts its file's events, over a source plan of one leaf") {
    // numInputRows feeds the idle watchdog (ListenerManager) and StatusBoard;
    // it must stay the events of the epoch's file. The epoch's source plan
    // is one leaf over its rows: no file scan, no codegen stage.
    val src = tmp("graft-src9"); val ckp = tmp("graft-ckp9"); val out = tmp("graft-out9")
    writeSlices(src, cuts = Seq(200L, 400L, 600L, 800L))
    val q = Streaming.startToParquet(spark, Streaming.PipelineSpec("c1", src, ckp), out)
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.map(_.batchId).toSeq === (0L to 4L))
    for (p <- progress) {
      // the epoch's file, as the checkpoint's source log records it
      val entries = Files.readAllLines(Paths.get(ckp, "sources", "0", p.batchId.toString)).asScala
        .filter(_.startsWith("{"))
      assert(entries.size === 1)
      val file = """"path":"([^"]+)"""".r.findFirstMatchIn(entries.head).get.group(1)
      assert(p.numInputRows === spark.read.parquet(file).count(), s"epoch ${p.batchId}: $file")
      assert(p.sources.map(_.numInputRows).sum === p.numInputRows)
    }
    assert(progress.map(_.numInputRows).sum ===
      graft.Tables.events(spark, "/root/testdata/sf0.001").count())
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    assert(plan.collectLeaves().map(_.getClass) === Seq(classOf[graft.streaming.EpochRowsExec]),
      plan.treeString)
    assert(!plan.exists {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _: org.apache.spark.sql.execution.WholeStageCodegenExec => true
      case _ => false
    }, plan.treeString)
  }

  test("a checkpoint written by Spark's parquet file stream resumes at its next file") {
    // The first run checkpoints through Spark's own parquet source, as the
    // stream did before it read its epochs itself, and stops with epoch 2
    // logged but uncommitted. The restart under startToParquet must replay
    // epoch 2 and go on: no file skipped, none read twice.
    val src = tmp("graft-src10"); val ckp = tmp("graft-ckp10"); val out = tmp("graft-out10")
    writeSlices(src, cuts = Seq(200L, 400L, 600L, 800L))
    val spec = Streaming.PipelineSpec("c1", src, ckp)
    val q1 = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.option("checkpointLocation", ckp).trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (epoch == 2) sys.error("stopped part-way")
        Pipeline.deliveries(CdcView.fromEvents(graft.Tables.normalizeTs(batch)), spec.cutoffMs)
          .withColumn("client_id", lit(spec.clientId))
          .write.mode("append").parquet(out)
      }.start()
    intercept[Exception] { q1.awaitTermination() }
    assert(Files.exists(Paths.get(ckp, "sources", "0", "2")) && Files.exists(Paths.get(ckp, "offsets", "2")))
    assert(Files.exists(Paths.get(ckp, "commits", "1")) && !Files.exists(Paths.get(ckp, "commits", "2")))

    val q2 = Streaming.startToParquet(spark, spec, out)
    q2.awaitTermination()
    assert(q2.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq === Seq(2L, 3L, 4L))
    val streamed = spark.read.parquet(out).drop("client_id")
    val batch = Pipeline.deliveries(CdcView(spark, "/root/testdata/sf0.001"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("a sink projection that cannot be planned once fails at start, before any epoch or checkpoint file") {
    // A grouping needs an exchange, so its plan depends on the data and
    // cannot be kept across epochs: the start path must refuse it on the
    // caller's thread, before the stream writes its checkpoint metadata.
    val src = tmp("graft-src8"); val ckp = tmp("graft-ckp8")
    writeSlices(src)
    val spec = Streaming.PipelineSpec("c1", src, ckp)
    val epochs = new ConcurrentLinkedQueue[Long]()
    val e = intercept[IllegalArgumentException] {
      Streaming.startOn(spark, spec, _.groupBy("entity").count()) { (_, _, epoch) =>
        epochs.add(epoch)
      }
    }
    assert(e.getMessage.contains("narrow"), e.getMessage)
    assert(epochs.isEmpty)
    assert(new java.io.File(ckp).list().isEmpty, "a checkpoint file was written")
    // control: the narrow route on the same spec starts and delivers
    Streaming.startOn(spark, spec, identity) { (route, batch, epoch) =>
      assert(route.rows(batch).count() > 0)
      epochs.add(epoch)
    }.awaitTermination()
    assert(epochs.asScala.toSeq === Seq(0L, 1L))
  }

  test("a route that is not one codegen stage within Spark's method size limit is refused when planned") {
    // A lambda is CodegenFallback, so Spark runs its projection outside the
    // codegen stage: there is no one stage to compile once and reuse.
    val e = intercept[IllegalArgumentException] {
      PlannedRoute(spark, Streaming.eventsSchema)(
        _.select(transform(array(col("event_id")), x => x + 1).as("ids")))
    }
    assert(e.getMessage.contains("one codegen stage"), e.getMessage)
    // control: the same values without the lambda plan as one stage
    val oneStage = (events: DataFrame) => events.select(array(col("event_id") + 1).as("ids"))
    assert(PlannedRoute(spark, Streaming.eventsSchema)(oneStage).schema.fieldNames.toSeq === Seq("ids"))
    // a stage whose largest method is over Spark's limit is refused too:
    // Spark itself would run such a stage interpreted
    val limit = "spark.sql.codegen.hugeMethodLimit"
    spark.conf.set(limit, "100")
    val big = try intercept[IllegalArgumentException] {
      PlannedRoute(spark, Streaming.eventsSchema)(oneStage)
    } finally spark.conf.unset(limit)
    assert(big.getMessage.contains("within 100 bytes"), big.getMessage)
  }

  test("effectively-once: replayed epoch overwrites its own partial output") {
    val src = tmp("graft-src4"); val ckp = tmp("graft-ckp4"); val out = tmp("graft-out4")
    writeSlices(src)
    val spec = Streaming.PipelineSpec("c1", src, ckp)
    // run 1: epoch 1 writes its files, THEN fails → partial output exists
    @volatile var failedOnce = false
    val q1 = Streaming.start(spark, spec) { (batch, epoch) =>
      batch.sparkSession.conf
        .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      batch.withColumn("client_id", lit("c1")).withColumn("epoch", lit(epoch))
        .write.mode("overwrite").partitionBy("epoch").parquet(out)
      if (epoch >= 1 && !failedOnce) { failedOnce = true; sys.error("post-write crash") }
    }
    intercept[Exception] { q1.awaitTermination() }
    val afterCrash = spark.read.parquet(out).count()
    // restart: epoch 1 replays and OVERWRITES its partition — no
    // duplicates — even when the caller's session says static overwrite:
    // the commit's dynamic mode is its writer's, and the session is left
    // as it was
    val mode = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(mode, "static")
    try {
      val q2 = Streaming.startToParquetIdempotent(spark, spec, out)
      q2.awaitTermination()
      assert(spark.conf.get(mode) === "static")
    } finally spark.conf.unset(mode)
    val streamed = spark.read.parquet(out).drop("client_id", "epoch")
    val batchRun = Pipeline.deliveries(CdcView(spark, "/root/testdata/sf0.001"))
    assert(streamed.count() === batchRun.count(), s"afterCrash=$afterCrash")
    assert(streamed.exceptAll(batchRun).isEmpty && batchRun.exceptAll(streamed).isEmpty)
  }

  test("ingest dedup in the delivery path: cross-batch replayed events delivered once") {
    // The source re-delivers events 400-499 in the second micro-batch —
    // the at-least-once replay the reference leaves to consumers. With
    // spec.dedupe the pipeline suppresses them before the route, so the
    // parquet sink holds each delivery exactly once; without it the
    // duplicates flow through (control, proves the fixture is real).
    // dedupeDelay is made huge so the assertion isolates duplicate
    // suppression from late-row drops (watermark semantics are covered by
    // WindowsSpec).
    val src = tmp("graft-src6"); val out = tmp("graft-out6"); val outDup = tmp("graft-out6d")
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    ev.filter(col("event_id") < 500).coalesce(1).write.parquet(s"$src/s1")
    ev.filter(col("event_id") >= 400).coalesce(1).write.parquet(s"$src/s2")
    val d = new java.io.File(src)
    for (sub <- Seq("s1", "s2"); f <- new java.io.File(d, sub).listFiles()
         if f.getName.endsWith(".parquet")) {
      Files.move(f.toPath, new java.io.File(d, s"$sub.parquet").toPath)
    }
    Seq("s1", "s2").foreach { sub =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d, sub))
    }

    val deduped = Streaming.PipelineSpec("c1", src, tmp("graft-ckp6"),
      dedupe = true, dedupeDelay = "36500 days")
    Streaming.startToParquet(spark, deduped, out).awaitTermination()
    val streamed = spark.read.parquet(out).drop("client_id")
    val batch = Pipeline.deliveries(CdcView(spark, "/root/testdata/sf0.001"))
    assert(streamed.count() === batch.count(), "each replayed event delivered exactly once")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)

    // control: same source without dedupe delivers the replayed slice twice
    val plain = Streaming.PipelineSpec("c1", src, tmp("graft-ckp6d"))
    Streaming.startToParquet(spark, plain, outDup).awaitTermination()
    val dupCount = spark.read.parquet(outDup).count()
    assert(dupCount > batch.count(),
      "fixture invalid: the overlap slice produced no duplicate deliveries")
  }

  test("K4 alert listener captures terminated-with-error") {
    // the product's alert path is ListenerManager's onAlert: a stream that
    // terminates with an error raises one alert carrying that error
    val src = tmp("graft-src3"); val ckp = tmp("graft-ckp3")
    writeSlices(src)
    val alerts = new ConcurrentLinkedQueue[ListenerManager.Alert]()
    val queries = new ConcurrentLinkedQueue[StreamingQuery]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val mgr = new ListenerManager(sleep = _ => (), onAlert = alerts.add(_))
    try {
      mgr.start("c1") { id =>
        val q = Streaming.start(spark, Streaming.PipelineSpec(id, src, ckp)) { (_, _) =>
          if (batches.incrementAndGet() == 1) sys.error("sink boom")
        }
        queries.add(q); q
      }
      // run 1 terminates with the error; the restarted run replays and ends
      val deadline = System.currentTimeMillis() + 20000
      while (mgr.status("c1").status != "stopped" && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(mgr.status("c1").status === "stopped")
      val failed = queries.peek()
      assert(failed.exception.isDefined, "the first run must terminate with an error")
      assert(alerts.size === 1)
      assert(alerts.peek().message === failed.exception.get.getMessage)
      assert(alerts.peek().message.contains("sink boom"))
    } finally mgr.stopAll()
  }

  test("A4 running counters as a live update-mode streaming aggregation") {
    val src = tmp("graft-src5"); val ckp = tmp("graft-ckp5")
    writeSlices(src)
    val routed = Streaming.routed(spark, Streaming.PipelineSpec("c1", src, ckp))
    val q = Streaming.runningCounters(routed)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckp)
      .format("memory").queryName("counters_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // last update per entity == the batch totals
    val last = spark.sql(
      """SELECT entity, events_received FROM (
        |  SELECT *, row_number() OVER (PARTITION BY entity ORDER BY events_received DESC) rn
        |  FROM counters_out) WHERE rn = 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Streaming.runningCounters(
      Pipeline.deliveries(CdcView(spark, "/root/testdata/sf0.001")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last === batch)
  }

  test("A4 running counters over the delivery stream (batch form)") {
    val out = Streaming.runningCounters(
      Pipeline.deliveries(CdcView(spark, "/root/testdata/sf0.001")))
    val m = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.values.sum === 327L) // total deliveries at sf0.001
    assert(m.keys.forall(_.nonEmpty))
  }

  test("offset table: upsert overrides matching key, clear nulls replay id") {
    import spark.implicits._
    val offsets = Seq(("c1", "/data/AChangeEvent", "RP1", 100L, 1L),
        ("c2", "/data/BChangeEvent", "RP9", 900L, 1L))
      .toDF("client_id", "topic_name", "last_replay_b64", "last_commit_ms", "updated_at")
    val up = Seq(("c1", "/data/AChangeEvent", "RP5", 500L, 2L))
      .toDF("client_id", "topic_name", "last_replay_b64", "last_commit_ms", "updated_at")
    val merged = Offsets.upsert(offsets, up)
    assert(merged.count() === 2)
    assert(merged.filter($"client_id" === "c1").select("last_replay_b64").as[String].head() === "RP5")
    val cleared = Offsets.clear(merged, "c1", "/data/AChangeEvent")
    assert(cleared.filter($"client_id" === "c1").select("last_replay_b64").head().isNullAt(0))
    assert(cleared.filter($"client_id" === "c2").select("last_replay_b64").as[String].head() === "RP9")
    // A3 latest-per-key picks the newest updated_at
    val hist = offsets.unionByName(up)
    val latest = Offsets.latestPerKey(hist).filter($"client_id" === "c1")
    assert(latest.select("last_replay_b64").as[String].head() === "RP5")
  }
}
