package perfbench

import graft.cdc.{CdcView, ListenerManager, Pipeline, Streaming, WebhookSink}
import org.apache.spark.sql.SparkSession
import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The CDC route end to end: generated event files → `ListenerManager.start`
  * with a `Streaming.startToWebhook` subscribe → the localhost [[WebhookStub]].
  *
  * @param files     event files written per set-up (an upper bound on the
  *                  epochs a run can drain)
  * @param perFile   events per file
  * @param current   events per file dated after the since-cutoff
  * @param failures  the endpoint fails posts on [[flakySchedule]]
  */
final class CdcWorkload(val name: String, files: Int, perFile: Int, current: Int,
    failures: Boolean) extends Workload {
  import CdcWorkload._

  final case class Inputs(dir: File, src: File, files: IndexedSeq[File],
      schedule: FailureSchedule)

  /** Payload bodies per file index, in delivery order, computed in batch
    * with the product's route exactly as `WebhookSinkSpec` does.
    */
  def expected(spark: SparkSession, fs: Seq[File]): Map[Int, IndexedSeq[String]] =
    if (fs.isEmpty) Map.empty
    else WebhookSink.payloadJson(Pipeline.deliveries(CdcView.fromEvents(
        spark.read.parquet(fs.map(_.getPath): _*))))
      .collect().toSeq.map(r => (r.getString(0).drop(1).toLong, r.getString(1)))
      .groupBy { case (rid, _) => Generator.fileOfEvent(rid / 4, perFile) }
      .map { case (f, rows) => f -> rows.sortBy(_._1).map(_._2).toIndexedSeq }

  /** The flaky endpoint's schedule. In each block of [[FlakyEvery]] files
    * one seeded file has its first payload fail the first attempt (one
    * retry after the sink's 1 s backoff): a fixed share of first attempts,
    * at seeded places. The middle payload of batch [[ChosenBatch]], the
    * first measured one, fails its first three attempts, which exhausts the
    * sink's retries and aborts that epoch uncommitted; the payloads posted
    * before it are posted again when the epoch replays.
    */
  def flakySchedule(seed: Long, exp: Map[Int, IndexedSeq[String]]): FailureSchedule =
    FailureSchedule(exp.toSeq.flatMap { case (f, bodies) =>
      val block = f / FlakyEvery
      if (f == ChosenBatch) Seq(Stats.payloadHash(bodies(bodies.size / 2)) -> 3)
      else if (bodies.nonEmpty &&
          f % FlakyEvery == Generator.rng(seed, 5, block).nextInt(FlakyEvery))
        Seq(Stats.payloadHash(bodies.head) -> 1)
      else Nil
    }.toMap)

  def prepare(spark: SparkSession, dir: File, seed: Long): Inputs = {
    val src = new File(dir, "events")
    val fs = Generator.writeFiles(src, files, Generator.eventsSchema)(i =>
      Generator.eventFile(seed, i, perFile, current).map(_.values))
    val schedule =
      if (failures) flakySchedule(seed, expected(spark, fs)) else FailureSchedule.none
    Inputs(dir, src, fs, schedule)
  }

  def run(spark: SparkSession, opts: Main.Opts, sessionS: Double): Result = {
    val (in, setupS) = Workloads.timedSetup(opts, sessionS)(prepare(spark, _, opts.seed))
    val log = new ProgressLog()
    spark.streams.addListener(log)
    val sparkLog = new SparkLog
    if (opts.trace) spark.sparkContext.addSparkListener(sparkLog)
    val stub = new WebhookStub(Main.cpus, ServiceDelayMs, in.schedule)
    val alerts = new ConcurrentLinkedQueue[ListenerManager.Alert]()
    val spec = Streaming.PipelineSpec("bench", in.src.getPath,
      new File(in.dir, "checkpoint").getPath)
    val cfg = WebhookSink.Config(stub.url) // the reference retry defaults
    val lm = new ListenerManager(onAlert = a => alerts.add(a))
    // "error" also covers the backoff before a restart, so only an error
    // that outlasts the backoff ends the drain
    var erredSince = Long.MaxValue
    def ended(): Boolean = lm.status(spec.clientId).status match {
      case "stopped" => true
      case "error" =>
        erredSince = math.min(erredSince, System.currentTimeMillis())
        System.currentTimeMillis() - erredSince > 10000L
      case _ => erredSince = Long.MaxValue; false
    }
    val d = try {
      lm.start(spec.clientId)(_ => Streaming.startToWebhook(spark, spec, cfg))
      Workloads.drain(log, Warmup, cycle = 1, opts.seconds)(
        () => ended(), () => lm.stop(spec.clientId))
    } finally stub.stop()
    val posts = stub.posts

    // correctness: every payload of a committed file acknowledged, and
    // nothing acknowledged outside the committed files plus the one the
    // stop interrupted; on a healthy endpoint nothing is acknowledged twice
    val exp = expected(spark, in.files.take(d.maxCommitted.toInt + 2))
    val hashes = exp.map { case (f, bodies) => f -> bodies.map(Stats.payloadHash) }
    val fileOf = hashes.toSeq.flatMap { case (f, hs) => hs.map(_ -> f) }.toMap
    val required = (0 to d.maxCommitted.toInt).flatMap(hashes.getOrElse(_, Nil)).toSet
    val allowed = required ++ hashes.getOrElse(d.maxCommitted.toInt + 1, Nil)
    val acked = posts.filter(_.ok).map(_.hash).toSet
    val dupAcks = if (failures) 0 else
      posts.filter(_.ok).groupBy(_.hash).values.map(_.size - 1).sum
    val failed = (required -- acked).size + (acked -- allowed).size + dupAcks
    val attempted = math.max(1, required.size)

    // end to end, over the measured epochs
    val postsOf = posts.groupBy(p => fileOf.getOrElse(p.hash, -1))
    def filePosts(e: Epoch) = postsOf.getOrElse(e.batchId.toInt, Nil)
    val delivered = d.measured.map(e => filePosts(e).filter(_.ok).map(_.hash).distinct.size)
    val ackLat = d.measured.flatMap(e => filePosts(e).filter(p =>
      p.ok && d.epochAt(p.endMs).contains(e)).map(p => (p.endMs - e.startMs).toDouble))
    val acks = d.measured.map(e => filePosts(e).count(_.ok)).sum
    val e2e = Seq(
      "setup_s" -> setupS,
      // one file per epoch: numInputRows would count a second scan twice
      "records_per_s" -> d.measured.size.toDouble * perFile / d.windowS,
      "deliveries_per_s" -> delivered.sum / d.windowS,
      "epoch_p50_ms" -> Stats.median(d.measured.map(_.triggerMs.toDouble)),
      "ack_p50_ms" -> Stats.percentile(ackLat, 50),
      "ok_share" -> (1.0 - failed.toDouble / attempted),
      "acks_per_delivery" -> acks.toDouble / delivered.sum,
      "peak_rss_mb" -> Workloads.peakRssMb)

    val l = new Workloads.Layers
    if (opts.trace) {
      Workloads.streamingLayer(l, d)
      // the ack tail repeats too poorly across runs to bound (like the epoch tail)
      l.set("streaming.ack_p90_ms", Stats.percentile(ackLat, 90))
      val runMs = Workloads.sparkLayer(l, d, sparkLog)
      Workloads.lifecycleLayer(l, d, log, sparkLog, alerts.size)
      // the sink as the stub saw it; the delivery span of an epoch runs from
      // its first POST's arrival to its last response inside the epoch
      val mine = d.measured.map(e => e -> filePosts(e))
      l.per("sink.posts", mine.map(_._2.size.toDouble))
      l.per("sink.acks", mine.map(_._2.count(_.ok).toDouble))
      l.per("sink.rejects", mine.map(_._2.count(!_.ok).toDouble))
      l.per("sink.retries", mine.map(_._2.count(_.attempt > 1).toDouble))
      val allMine = mine.flatMap(_._2)
      l.set("sink.useful_ratio", delivered.sum.toDouble / math.max(1, allMine.size))
      l.set("sink.inflight_max", Stats.maxOverlap(allMine.map(p => (p.arriveNs, p.endNs))))
      l.set("sink.inflight_mean", allMine.map(p => p.endNs - p.arriveNs).sum / 1e6 / d.windowMs)
      val gaps = mine.flatMap { case (_, ps) =>
        val t = ps.filter(_.ok).map(_.endNs).sorted
        t.zip(t.drop(1)).map { case (a, b) => (b - a) / 1e6 }
      }
      l.set("sink.ack_gap_p50_ms", if (gaps.isEmpty) 0.0 else Stats.median(gaps))
      val span = mine.map { case (e, ps) =>
        val in = ps.filter(p => d.epochAt(p.endMs).contains(e))
        e.batchId -> (if (in.isEmpty) 0.0 else (in.map(_.endNs).max - in.map(_.arriveNs).min) / 1e6)
      }.toMap
      val addBatch = d.measured.map(_.durations.getOrElse("addBatch", 0L)).sum.toDouble
      l.set("sink.add_batch_share", span.values.sum / addBatch)
      l.set("route.add_batch_share", d.measured.map(e =>
        math.max(0.0, runMs.getOrElse(e.batchId, 0.0) - span(e.batchId))).sum / addBatch)
      routeLayer(spark, l, d, in.files)
      e2e.foreach { case (k, v) => l.set("traced." + k, v) }
      val spans = new Workloads.Spans
      spans.epochs(d)
      spans.spark(sparkLog)
      posts.foreach(p => spans.add(if (p.ok) "ack" else "reject", "sink",
        p.endMs - (p.endNs - p.arriveNs) / 1e6, p.endMs.toDouble,
        fileOf.getOrElse(p.hash, -1).toLong, "addBatch"))
      spans.write(Workloads.spansFile(opts))
    }
    Result(failed == 0, attempted, failed, e2e, l.result)
  }

  /** Route counters of the measured files, from an untimed reference pass
    * through the public `Pipeline.observeRoute`, one file at a time.
    */
  private def routeLayer(spark: SparkSession, l: Workloads.Layers, d: Drain,
      fs: IndexedSeq[File]): Unit = {
    val counts = d.measured.map { e =>
      val (observed, obs) = Pipeline.observeRoute(CdcView.fromEvents(
        spark.read.parquet(fs(e.batchId.toInt).getPath)))
      val out = Pipeline.deliveries(observed).count()
      val m = obs.get
      def c(k: String) = m(k).asInstanceOf[Long].toDouble
      (c("events_seen"), out.toDouble, c("since_dropped"), c("empty_record_ids"),
        c("unparseable_flash"))
    }
    l.per("route.events_in", counts.map(_._1))
    l.per("route.rows_out", counts.map(_._2))
    l.per("route.since_dropped", counts.map(_._3))
    l.per("route.empty_ids", counts.map(_._4))
    l.per("route.unparseable_flash", counts.map(_._5))
    l.set("route.keep_ratio", counts.map(_._2).sum / counts.map(_._1).sum)
  }
}

object CdcWorkload {
  /** The JIT keeps shortening CDC epochs for about 10 epochs after the
    * cold first one, longer on a busy host; the window starts after that.
    */
  val Warmup = 12
  val ServiceDelayMs = 2L
  /** The batch whose middle payload exhausts its retries on `cdc_flaky`. */
  val ChosenBatch: Int = Warmup
  val FlakyEvery = 3

  val live = new CdcWorkload("cdc_live", files = 100, perFile = 100, current = 100,
    failures = false)
  val backlog = new CdcWorkload("cdc_backlog", files = 50, perFile = 20000, current = 10,
    failures = false)
  val flaky = new CdcWorkload("cdc_flaky", files = 100, perFile = 100, current = 100,
    failures = true)
}
