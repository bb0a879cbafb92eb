package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job wall-time profile of one registered query — the measurement
  * companion to [[PlanDump]] (guide §1: find where the time goes before
  * touching anything). Runs the query `reps` times through the Bench's
  * noop-sink methodology on a Bench-shaped session and prints, for the
  * LAST rep, every Spark job with its wall time, stage count, task count
  * and description, plus the gaps between jobs (driver-side planning /
  * collect barriers show up as inter-job gaps).
  *
  * Usage: runMain graft.JobProfile <query> [reps] [sfDir]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <query> [reps] [sfDir]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class J(id: Int, desc: String, start: Long,
        var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)
    final case class S(id: Int, name: String, tasks: Int, wall: Double,
        cpu: Double)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val slowStages = mutable.ArrayBuffer.empty[S]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = J(e.jobId, d, e.time, stages = e.stageInfos.size,
            tasks = e.stageInfos.map(_.numTasks).sum)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield (a - b) / 1e3).getOrElse(0.0)
        if (wall >= 0.2) jobs.synchronized {
          slowStages += S(si.stageId, si.name, si.numTasks, wall,
            si.taskMetrics.executorCpuTime / 1e9)
        }
      }
    }

    (1 to reps).foreach { r =>
      val last = r == reps
      if (last) {
        jobs.clear(); slowStages.clear()
        spark.sparkContext.addSparkListener(listener)
      }
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      if (last) {
        // let the listener bus drain before reading (private API — poll)
        Thread.sleep(300)
        println(f"[jobprofile] $name rep $r: $dt%.3f s, ${jobs.size} jobs")
        val ordered = jobs.values.toSeq.sortBy(_.start)
        var prevEnd = 0L
        ordered.foreach { j =>
          val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
          prevEnd = math.max(prevEnd, j.end)
          val dur = (j.end - j.start) / 1e3
          println(f"  job ${j.id}%3d  ${dur}%7.3f s  gap ${gap}%7.3f s  " +
            f"stages ${j.stages}%2d tasks ${j.tasks}%4d  ${j.desc.take(80)}")
        }
        val busy = ordered.map(j => j.end - j.start).sum / 1e3
        println(f"[jobprofile] sum(job wall) = $busy%.3f s of $dt%.3f s " +
          f"(${100 * busy / math.max(dt, 1e-9)}%.0f%% — remainder is driver-side)")
        println(s"[jobprofile] stages with wall >= 0.2 s:")
        slowStages.sortBy(-_.wall).take(20).foreach { s =>
          println(f"  stage ${s.id}%4d  wall ${s.wall}%6.3f s  cpu ${s.cpu}%6.3f s  " +
            f"tasks ${s.tasks}%4d  ${s.name.take(120)}")
        }
      } else {
        println(f"[jobprofile] $name rep $r: $dt%.3f s (warm-up)")
      }
      spark.sqlContext.clearCache()
    }
    spark.stop()
  }
}
