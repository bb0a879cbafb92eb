package perfbench

import org.apache.spark.sql.SparkSession
import java.io.File

/** Benchmark entry point: one run of one workload.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints one JSON line `{"correct", "attempted", "failed", "metrics"}` with
  * metric values only (the units live in BENCHMARK.json); `--trace 0`
  * reports the end-to-end metrics, `--trace 1` the per-layer ones and writes
  * the run's spans under `<work>/spans`. `run.py` is the intended caller.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")).getAbsoluteFile)
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session `graft.Bench` runs the product in, with every scratch
    * location inside the run's work directory.
    */
  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    opts.work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(opts.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val workload = Workloads.byName.getOrElse(opts.workload,
      sys.error(s"unknown workload ${opts.workload}; one of ${Workloads.byName.keys.mkString(", ")}"))
    // a run that throws counts as fully failed
    val result = try workload.run(spark, opts, sessionS) catch {
      case e: Throwable =>
        e.printStackTrace()
        Result(correct = false, attempted = 1, failed = 1, Nil, Nil)
    }
    System.err.println(f"perfbench: run finished ${(System.nanoTime() - t0) / 1e9}%.3f s after JVM start")
    println(result.json(opts.trace))
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}

/** What one run reports. `e2e` and `layer` map metric names to values. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    e2e: Seq[(String, Double)], layer: Seq[(String, Double)]) {
  def json(trace: Boolean): String = {
    val ms = (if (trace) layer else e2e).map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": $num"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
