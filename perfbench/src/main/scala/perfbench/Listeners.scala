package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** One committed micro-batch, from its `StreamingQueryProgress`. */
final case class Epoch(batchId: Long, startMs: Long, durations: Map[String, Long]) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  /** When the offset commit finished: the trigger ends with it. */
  def endMs: Long = startMs + triggerMs
}

/** Streaming progress as the product reports it: committed epochs, query
  * (re)starts and terminations. Listens on every query of the session, so
  * a restarted query keeps reporting into the same log.
  */
final class ProgressLog(onEpoch: Epoch => Unit = _ => ()) extends StreamingQueryListener {
  private val epochQ = new ConcurrentLinkedQueue[Epoch]()
  val starts = new ConcurrentLinkedQueue[Long]()
  val failures = new ConcurrentLinkedQueue[Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    starts.add(System.currentTimeMillis())
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.durationMs.containsKey("addBatch")) {
      val ep = Epoch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      epochQ.add(ep)
      onEpoch(ep)
    }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (e.exception.isDefined) failures.add(System.currentTimeMillis())

  /** Committed epochs by batch id (a batch id commits once). */
  def epochs: Map[Long, Epoch] = epochQ.asScala.map(e => e.batchId -> e).toMap
}

/** Job, stage and task accounting from a `SparkListener`, keyed by the
  * streaming batch id each job ran under. Registered only in traced runs.
  */
final class SparkLog extends SparkListener {
  final case class Job(id: Int, batch: Long, startMs: Long, var endMs: Long = -1,
      var failed: Boolean = false)
  final case class Stage(id: Int, batch: Long, tasks: Int, startMs: Long, endMs: Long)
  final case class Task(batch: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, input: Long)

  private val stageBatch = new ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val batch = Option(e.properties).flatMap(p =>
      Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(stageBatch.put(_, batch))
    jobs.put(e.jobId, Job(e.jobId, batch, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.failed = e.jobResult != JobSucceeded
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, stageBatch.getOrDefault(i.stageId, -1L), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }
  // a failed task's work was thrown away: it is counted again when the
  // epoch replays
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason == org.apache.spark.Success) Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(stageBatch.getOrDefault(e.stageId, -1L), m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
    }
}
