package perfbench

import org.apache.spark.sql.SparkSession
import java.io.File
import scala.collection.mutable

trait Workload {
  def name: String
  def run(spark: SparkSession, opts: Main.Opts, sessionS: Double): Result
}

/** The drain every workload shares: a closed loop over pre-written files,
  * one file per micro-batch, measured from the commit of the last warm-up
  * epoch over whole cycles for at least `seconds`, then stopped.
  * `stealShare` is the share of the machine's CPU time other guests took
  * during the window.
  */
final case class Drain(t0Ms: Long, measured: IndexedSeq[Epoch], committed: Map[Long, Epoch],
    stealShare: Double = Double.NaN) {
  def t1Ms: Long = measured.last.endMs
  def windowMs: Double = (t1Ms - t0Ms).toDouble
  def windowS: Double = windowMs / 1000.0
  def batches: Set[Long] = measured.map(_.batchId).toSet
  def maxCommitted: Long = committed.keys.max
  /** Committed epochs in time order, for attributing timestamps to them. */
  lazy val timeline: IndexedSeq[Epoch] = committed.values.toIndexedSeq.sortBy(_.startMs)
  private lazy val intervals = timeline.map(e => (e.startMs, e.endMs))
  def epochAt(ms: Long): Option[Epoch] = Stats.attribute(intervals, ms).map(timeline)
}

object Workloads {

  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3

  val byName: Map[String, Workload] =
    Seq(CdcWorkload.live, CdcWorkload.backlog, CdcWorkload.flaky, IngestWorkload)
      .map(w => w.name -> w).toMap

  /** Run `prepare` [[SetupReps]] times in fresh directories and keep the
    * last; returns it with session start plus the median set-up time.
    */
  def timedSetup[P](opts: Main.Opts, sessionS: Double)(prepare: File => P): (P, Double) = {
    val runs = (0 until SetupReps).map { r =>
      val dir = new File(opts.work, s"setup$r")
      val t = System.nanoTime()
      val p = prepare(dir)
      val s = (System.nanoTime() - t) / 1e9
      System.err.println(f"perfbench: set-up $r took $s%.3f s")
      if (r < SetupReps - 1) Files.deleteTree(dir)
      (p, s)
    }
    System.err.println(f"perfbench: session start took $sessionS%.3f s")
    (runs.last._1, sessionS + Stats.median(runs.map(_._2)))
  }

  /** Start the stream and measure it in whole cycles of `cycle` epochs (a
    * compaction cadence, so that every cycle holds one compaction; 1 where
    * there is none). The first `warmup` epochs are not measured; a count
    * of epochs, not a time, so that a slow host warms up as far as a fast
    * one. The measured window runs from the warm-up's last commit to the
    * first commit at or after `seconds` later that closes a whole number
    * of cycles; then the stream is stopped. `finished` reports a stream
    * that ended on its own (input drained).
    */
  def drain(log: ProgressLog, warmup: Int, cycle: Int, seconds: Int)(
      finished: () => Boolean, stop: () => Unit): Drain = {
    val hardStop = System.currentTimeMillis() + (seconds + 120) * 1000L
    val started = System.currentTimeMillis()
    def windowEnd(eps: Map[Long, Epoch], w: Epoch) = Workloads.windowEnd(eps, w, cycle, seconds)
    var done = false
    var ticks0: Option[(Long, Long)] = None
    while (!done) {
      val fin = finished()
      val eps = log.epochs
      val w = eps.get(warmup - 1L)
      if (w.nonEmpty && ticks0.isEmpty) ticks0 = Some(cpuTicks())
      done = w.flatMap(windowEnd(eps, _)).nonEmpty ||
        fin || System.currentTimeMillis() > hardStop
      if (!done) Thread.sleep(50) // the window's end is its commit time, not this poll's
    }
    val stopAt = System.currentTimeMillis()
    val ticks1 = cpuTicks()
    stop()
    Thread.sleep(200) // let the listener bus deliver the last progress events
    val committed = log.epochs
    val w = committed.getOrElse(warmup - 1L,
      sys.error(s"the stream committed fewer than $warmup warm-up epochs"))
    System.err.println(s"perfbench: warm-up took ${w.endMs - started} ms " +
      s"(${w.batchId + 1} epochs), measuring ${stopAt - w.endMs} ms")
    val last = windowEnd(committed, w).orElse(committed.values
      .filter(e => e.batchId > w.batchId && (e.batchId - w.batchId) % cycle == 0)
      .maxByOption(_.batchId))
      .getOrElse(sys.error("no whole cycle committed after the warm-up"))
    val measured = (w.batchId + 1 to last.batchId).flatMap(committed.get).toIndexedSeq
    require(measured.map(_.batchId) == (w.batchId + 1 to last.batchId),
      s"committed batch ids are not contiguous: ${measured.map(_.batchId)}")
    val steal = ticks0.map { case (st, tot) =>
      (ticks1._1 - st).toDouble / math.max(1L, ticks1._2 - tot) }.getOrElse(Double.NaN)
    System.err.println(f"perfbench: host steal during the window: ${steal * 100}%.1f%%")
    Drain(w.endMs, measured, committed, steal)
  }

  /** The measured window's last epoch under [[drain]]'s rule, once committed. */
  def windowEnd(eps: Map[Long, Epoch], warm: Epoch, cycle: Int, seconds: Int): Option[Epoch] =
    eps.values.filter(e => e.batchId > warm.batchId && (e.batchId - warm.batchId) % cycle == 0 &&
      e.endMs >= warm.endMs + seconds * 1000L).minByOption(_.batchId)

  /** (steal, total) CPU ticks of this machine since boot, from /proc/stat: the
    * time other guests took from this machine's virtual CPUs, which slows a
    * run from outside the program.
    */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Per-layer names shared by every workload, in report order. A workload
    * leaves the layers it does not exercise at 0.
    */
  private val perEpochCounts: Seq[String] = Seq(
    "streaming.latest_offset_ms", "streaming.get_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.add_batch_ms",
    "streaming.driver_gap_ms",
    "route.events_in", "route.rows_out", "route.since_dropped", "route.empty_ids",
    "route.unparseable_flash",
    "sink.posts", "sink.acks", "sink.rejects", "sink.retries",
    "ingest.docs_in", "ingest.admitted", "ingest.rejected", "ingest.gate_append_ms",
    "ingest.compact_ms", "ingest.index_files",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.gc_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.input_bytes", "spark.single_task_stage_ms")
  private val single: Seq[String] = Seq(
    "streaming.epoch_p90_ms", "streaming.ack_p90_ms", "streaming.epochs", "streaming.epoch_sum_ms",
    "streaming.parts_sum_ms", "streaming.between_epochs_ms",
    "route.keep_ratio", "route.add_batch_share",
    "sink.useful_ratio", "sink.inflight_max", "sink.inflight_mean", "sink.ack_gap_p50_ms",
    "sink.add_batch_share",
    "lifecycle.restarts", "lifecycle.alerts", "lifecycle.replayed_epochs", "lifecycle.down_ms",
    "ingest.admit_ratio", "ingest.index_bytes", "ingest.gate_append_share",
    "spark.slot_busy_share", "host.steal_share")
  val e2eNames: Seq[String] = Seq("setup_s", "records_per_s", "deliveries_per_s",
    "epoch_p50_ms", "ack_p50_ms", "ok_share", "acks_per_delivery",
    "peak_rss_mb")
  val layerNames: Seq[String] =
    perEpochCounts.flatMap(n => Seq(n, n + ".p50")) ++ single ++ e2eNames.map("traced." + _)

  /** Per-layer values being filled in: `per(name, xs)` records an
    * epoch-wise series as its total and its per-epoch median.
    */
  final class Layers {
    private val m = mutable.LinkedHashMap.from(layerNames.map(_ -> 0.0))
    def set(name: String, v: Double): Unit = {
      require(m.contains(name), s"unknown per-layer metric $name")
      m(name) = v
    }
    def per(name: String, xs: Seq[Double]): Unit = {
      set(name, xs.sum)
      set(name + ".p50", if (xs.isEmpty) 0.0 else Stats.median(xs))
    }
    def result: Seq[(String, Double)] = m.toSeq
  }

  /** The micro-batch's named parts of every measured epoch (from progress),
    * their sum against the epoch time, and the time between epochs.
    */
  def streamingLayer(l: Layers, d: Drain): Unit = {
    val parts = Seq("latestOffset" -> "streaming.latest_offset_ms",
      "getBatch" -> "streaming.get_batch_ms", "queryPlanning" -> "streaming.query_planning_ms",
      "walCommit" -> "streaming.wal_commit_ms", "commitOffsets" -> "streaming.commit_offsets_ms",
      "addBatch" -> "streaming.add_batch_ms")
    parts.foreach { case (k, n) =>
      l.per(n, d.measured.map(_.durations.getOrElse(k, 0L).toDouble)) }
    val gaps = d.measured.map(e =>
      (e.triggerMs - parts.map(p => e.durations.getOrElse(p._1, 0L)).sum).toDouble)
    l.per("streaming.driver_gap_ms", gaps)
    val trig = d.measured.map(_.triggerMs.toDouble)
    l.set("streaming.epoch_p90_ms", Stats.percentile(trig, 90))
    l.set("streaming.epochs", d.measured.size.toDouble)
    l.set("streaming.epoch_sum_ms", trig.sum)
    l.set("streaming.parts_sum_ms", d.measured.map(e =>
      parts.map(p => e.durations.getOrElse(p._1, 0L)).sum.toDouble).sum + gaps.sum)
    l.set("streaming.between_epochs_ms", d.windowMs - trig.sum)
    l.set("host.steal_share", d.stealShare)
  }

  /** Engine counters of the measured epochs' jobs. Returns executor run
    * time per batch id.
    */
  def sparkLayer(l: Layers, d: Drain, s: SparkLog): Map[Long, Double] = {
    import scala.jdk.CollectionConverters._
    val in = d.batches
    val jobs = s.jobs.values.asScala.toSeq.filter(j => in(j.batch))
    val stages = s.stages.asScala.toSeq.filter(st => in(st.batch))
    val tasks = s.tasks.asScala.toSeq.filter(t => in(t.batch))
    def perBatch[T](xs: Seq[T])(batch: T => Long, v: T => Double): Seq[Double] = {
      val g = xs.groupBy(batch).map { case (b, ys) => b -> ys.map(v).sum }
      d.measured.map(e => g.getOrElse(e.batchId, 0.0))
    }
    l.per("spark.jobs", perBatch(jobs)(_.batch, _ => 1.0))
    l.per("spark.stages", perBatch(stages)(_.batch, _ => 1.0))
    l.per("spark.tasks", perBatch(tasks)(_.batch, _ => 1.0))
    l.per("spark.executor_run_ms", perBatch(tasks)(_.batch, _.runMs.toDouble))
    l.per("spark.executor_cpu_ms", perBatch(tasks)(_.batch, _.cpuNs / 1e6))
    l.per("spark.gc_ms", perBatch(tasks)(_.batch, _.gcMs.toDouble))
    l.per("spark.shuffle_read_bytes", perBatch(tasks)(_.batch, _.shuffleRead.toDouble))
    l.per("spark.shuffle_write_bytes", perBatch(tasks)(_.batch, _.shuffleWrite.toDouble))
    l.per("spark.input_bytes", perBatch(tasks)(_.batch, _.input.toDouble))
    l.per("spark.single_task_stage_ms", perBatch(stages.filter(_.tasks == 1))(
      _.batch, st => (st.endMs - st.startMs).toDouble))
    l.set("spark.slot_busy_share",
      tasks.map(_.runMs).sum / (d.windowMs * Main.cpus))
    tasks.groupBy(_.batch).map { case (b, ts) => b -> ts.map(_.runMs.toDouble).sum }
  }

  /** Restarts, alerts, replays and down time of the stream's lifecycle. */
  def lifecycleLayer(l: Layers, d: Drain, log: ProgressLog, s: SparkLog, alerts: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val starts = log.starts.asScala.toIndexedSeq.sorted
    l.set("lifecycle.restarts", (starts.size - 1).toDouble)
    l.set("lifecycle.alerts", alerts.toDouble)
    val failedBatches = s.jobs.values.asScala.filter(_.failed).map(_.batch).toSet
    l.set("lifecycle.replayed_epochs",
      failedBatches.count(b => b >= 0 && d.committed.contains(b)).toDouble)
    l.set("lifecycle.down_ms", log.failures.asScala.toSeq.map { f =>
      starts.find(_ >= f).map(s => (s - f).toDouble).getOrElse(0.0) }.sum)
  }

  /** Spans from the run's own records, written as JSON lines: the epochs
    * and their named parts (progress), jobs and stages (SparkListener),
    * POSTs (stub) and the ingest hook split. Parts carry only durations in
    * progress, so they are laid end to end from the epoch start in the
    * order the micro-batch runs them.
    */
  final class Spans {
    private val buf = new StringBuilder
    def add(name: String, layer: String, startMs: Double, endMs: Double,
        epoch: Long, parent: String): Unit =
      buf ++= f"""{"name":"$name","layer":"$layer","start_ms":$startMs%.3f,"end_ms":$endMs%.3f,"epoch":$epoch,"parent":"$parent"}""" += '\n'
    def epochs(d: Drain): Unit = d.committed.values.toSeq.sortBy(_.batchId).foreach { e =>
      add("epoch", "streaming", e.startMs, e.endMs, e.batchId, "")
      var t = e.startMs.toDouble
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
        "commitOffsets").foreach { k =>
        val ms = e.durations.getOrElse(k, 0L)
        add(k, "streaming", t, t + ms, e.batchId, "epoch")
        t += ms
      }
    }
    def spark(s: SparkLog): Unit = {
      import scala.jdk.CollectionConverters._
      s.jobs.values.asScala.toSeq.sortBy(_.id).foreach(j =>
        add(s"job${j.id}", "spark", j.startMs, j.endMs, j.batch,
          if (j.batch >= 0) "addBatch" else ""))
      s.stages.asScala.foreach(st =>
        add(s"stage${st.id}", "spark", st.startMs, st.endMs, st.batch, "job"))
    }
    def write(f: File): Unit = {
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, buf.toString)
    }
  }

  def spansFile(opts: Main.Opts): File =
    new File(new File(opts.work.getParentFile, "spans"), s"${opts.workload}-seed${opts.seed}.jsonl")
}
