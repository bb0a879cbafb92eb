package perfbench

import graft.llm.{LlmOps, StreamingIngest}
import org.apache.spark.sql.SparkSession
import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The live near-dup ingest loop: `StreamingIngest.start` with its minhash
  * gate and a compaction cadence, over a stored index built in set-up from
  * a seeded half of a generated `documents` corpus. The other half arrives
  * one file per epoch, with near-copies of earlier docs mixed in.
  */
object IngestWorkload extends Workload {
  val name = "ingest_live"
  val Half = 1000
  val FreshPerFile = 57
  val CopiesPerFile: Int = Generator.copiesPer(FreshPerFile)
  /** Compaction after every 2nd epoch; a run warms up with the first
    * epoch and then measures whole cycles of two epochs, one of which
    * compacts.
    */
  val CompactEvery = 2
  val Threshold = 0.6
  /** Reference similarities inside this band are not checked: the gate's
    * LSH may decide either way near its threshold.
    */
  val Band: (Double, Double) = (0.4, 0.95)

  final case class Inputs(dir: File, src: File, index: File, docs: Generator.IngestInputs)

  def prepare(spark: SparkSession, dir: File, seed: Long): Inputs = {
    val docs = Generator.ingestInputs(seed, Half, FreshPerFile, CopiesPerFile)
    val base = new File(dir, "base.parquet")
    dir.mkdirs()
    Generator.writeParquet(base, Generator.docsSchema, docs.index.iterator.map(_.values))
    val index = new File(dir, "index")
    LlmOps.buildMinHashIndex(spark.read.parquet(base.getPath), index.getPath)
    val src = new File(dir, "arrivals")
    Generator.writeFiles(src, docs.files.size, Generator.docsSchema)(i =>
      docs.files(i).map(_.values))
    Inputs(dir, src, index, docs)
  }

  def trigrams(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** The exact-Jaccard reference: per file, each doc's highest similarity
    * to the stored index and to the docs the reference admitted from
    * earlier files. A doc is admitted when that is below the threshold.
    */
  def reference(docs: Generator.IngestInputs, upTo: Int): IndexedSeq[Seq[(Long, Double, Long)]] = {
    val posting = scala.collection.mutable.HashMap.empty[String, List[(Long, Set[String])]]
    def add(d: Generator.Doc): Unit = {
      val s = trigrams(d.text)
      s.foreach(t => posting(t) = (d.docId, s) :: posting.getOrElse(t, Nil))
    }
    docs.index.foreach(add)
    (0 to math.min(upTo, docs.files.size - 1)).map { f =>
      val scored = docs.files(f).map { d =>
        val s = trigrams(d.text)
        val cands = s.iterator.flatMap(posting.getOrElse(_, Nil)).toSet
        if (cands.isEmpty) (d.docId, 0.0, -1L)
        else {
          val (id, j) = cands.map { case (id, t) => (id, jaccard(s, t)) }.maxBy(_._2)
          (d.docId, j, id)
        }
      }
      docs.files(f).zip(scored).foreach { case (d, (_, j, _)) => if (j < Threshold) add(d) }
      scored
    }
  }

  def run(spark: SparkSession, opts: Main.Opts, sessionS: Double): Result = {
    val (in, setupS) = Workloads.timedSetup(opts, sessionS)(prepare(spark, _, opts.seed))
    val hooks = new ConcurrentHashMap[Long, Long]()
    val indexFiles = new ConcurrentHashMap[Long, Int]()
    val log = new ProgressLog(e => if (opts.trace)
      indexFiles.put(e.batchId, Files.listTree(in.index, ".parquet").size))
    spark.streams.addListener(log)
    val sparkLog = new SparkLog
    if (opts.trace) spark.sparkContext.addSparkListener(sparkLog)
    val out = new File(in.dir, "admitted")
    val q = StreamingIngest.start(spark, in.src.getPath, in.index.getPath, out.getPath,
      new File(in.dir, "checkpoint").getPath, threshold = Threshold,
      compactEvery = CompactEvery,
      epochHook = e => hooks.put(e, System.currentTimeMillis()))
    val d = Workloads.drain(log, warmup = 1, CompactEvery, opts.seconds)(
      () => !q.isActive, () => q.stop())
    q.exception.foreach(e => throw e)

    // correctness: admit/reject per doc of every committed epoch against the
    // exact-Jaccard reference, outside the band around the threshold
    val admittedRows = spark.read.parquet(out.getPath).select("doc_id", "epoch")
      .collect().toSeq.map(r => (r.getLong(0), r.get(1).toString.toLong))
      .filter(_._2 <= d.maxCommitted)
    val admittedBy = admittedRows.groupBy(_._2).map { case (e, rs) => e -> rs.map(_._1) }
    val ref = reference(in.docs, d.maxCommitted.toInt)
    var attempted = 0L
    var failed = 0L
    ref.zipWithIndex.foreach { case (scored, f) =>
      val got = admittedBy.getOrElse(f.toLong, Nil).toSet
      val mine = scored.map(_._1).toSet
      failed += (got -- mine).size // admitted from another epoch's file
      (got -- mine).foreach(id => System.err.println(s"perfbench: doc $id admitted in epoch $f"))
      scored.foreach { case (id, j, near) =>
        if (j <= Band._1 || j >= Band._2) {
          attempted += 1
          if ((j < Threshold) != got(id)) {
            failed += 1
            System.err.println(f"perfbench: doc $id of epoch $f: reference similarity $j%.3f " +
              s"to doc $near, admitted ${got(id)}")
          }
        }
      }
    }

    // a micro-batch's numInputRows counts every scan of the batch, so the
    // docs that arrived are taken from the files themselves
    val docsIn = d.measured.map(e => in.docs.files(e.batchId.toInt).size.toDouble)
    val admitted = d.measured.map(e => admittedBy.getOrElse(e.batchId, Nil).distinct.size)
    val rowsOut = d.measured.map(e => admittedBy.getOrElse(e.batchId, Nil).size).sum
    val hookMs = d.measured.map(e => e -> Option(hooks.get(e.batchId)).map(_.longValue)).toMap
    val ackLat = d.measured.flatMap { e =>
      val lat = hookMs(e).map(h => (h - e.startMs).toDouble).getOrElse(Double.NaN)
      Seq.fill(admittedBy.getOrElse(e.batchId, Nil).size)(lat)
    }
    val e2e = Seq(
      "setup_s" -> setupS,
      "records_per_s" -> docsIn.sum / d.windowS,
      "deliveries_per_s" -> admitted.sum / d.windowS,
      "epoch_p50_ms" -> Stats.median(d.measured.map(_.triggerMs.toDouble)),
      "ack_p50_ms" -> Stats.percentile(ackLat, 50),
      "ok_share" -> (1.0 - failed.toDouble / math.max(1, attempted)),
      "acks_per_delivery" -> rowsOut.toDouble / admitted.sum,
      "peak_rss_mb" -> Workloads.peakRssMb)

    val l = new Workloads.Layers
    if (opts.trace) {
      Workloads.streamingLayer(l, d)
      // the ack tail repeats too poorly across runs to bound (like the epoch tail)
      l.set("streaming.ack_p90_ms", Stats.percentile(ackLat, 90))
      Workloads.sparkLayer(l, d, sparkLog)
      Workloads.lifecycleLayer(l, d, log, sparkLog, alerts = 0)
      // the hook fires after the epoch's writes and before its compaction;
      // the offset commit follows the compaction
      val split = d.measured.map { e =>
        val addBatch = e.durations.getOrElse("addBatch", 0L).toDouble
        val compact = hookMs(e).map(h => math.max(0.0,
          (e.endMs - e.durations.getOrElse("commitOffsets", 0L) - h).toDouble)).getOrElse(0.0)
        (math.max(0.0, addBatch - compact), compact)
      }
      l.per("ingest.docs_in", docsIn)
      l.per("ingest.admitted", admitted.map(_.toDouble))
      l.per("ingest.rejected", docsIn.zip(admitted).map { case (n, a) => n - a })
      l.set("ingest.admit_ratio", admitted.sum / docsIn.sum)
      l.per("ingest.gate_append_ms", split.map(_._1))
      l.per("ingest.compact_ms", split.map(_._2))
      l.set("ingest.gate_append_share", split.map(_._1).sum / d.measured.map(_.triggerMs).sum)
      val listed = d.measured.flatMap(e => Option(indexFiles.get(e.batchId)).map(_.toDouble))
      l.set("ingest.index_files", listed.lastOption.getOrElse(0.0))
      l.set("ingest.index_files.p50", if (listed.isEmpty) 0.0 else Stats.median(listed))
      l.set("ingest.index_bytes", Files.listTree(in.index, ".parquet").map(_.length).sum.toDouble)
      e2e.foreach { case (k, v) => l.set("traced." + k, v) }
      val spans = new Workloads.Spans
      spans.epochs(d)
      spans.spark(sparkLog)
      d.measured.foreach(e => hookMs(e).foreach { h =>
        val addStart = e.endMs - e.durations.getOrElse("commitOffsets", 0L) -
          e.durations.getOrElse("addBatch", 0L)
        spans.add("gate_append", "ingest", addStart, h, e.batchId, "addBatch")
        spans.add("compact", "ingest", h,
          e.endMs - e.durations.getOrElse("commitOffsets", 0L), e.batchId, "addBatch")
      })
      spans.write(Workloads.spansFile(opts))
    }
    Result(failed == 0, math.max(1, attempted), failed, e2e, l.result)
  }
}
