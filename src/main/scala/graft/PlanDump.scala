package graft
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named queries to one file each —
  * the optimization-round evidence files (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query,query,...> [sfDir]
  * Writes `<outDir>/<query>_<suffix>.txt` per query.
  *
  * Queries dumped in one JVM share its session, and AQE state at
  * `explain` time (whether an earlier query's pinned cache is
  * materialised) shows in the text: a plan-identity comparison of the
  * delta family (`llm_curate_delta*`) needs solo dumps, one query per
  * JVM, several per side.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <query,query,...> [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = LocalSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the CC fixpoint nests every iteration's cached plan — keep the head
      val lines = plan.trim.linesIterator.toSeq
      val shown =
        if (lines.size <= 400) lines
        else lines.take(400) :+ s"... (${lines.size - 400} nested cached-plan lines elided)"
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        shown.mkString("\n") + "\n")
      println(s"[plandump] $outDir/${name}_$suffix.txt")
      spark.sqlContext.clearCache()
    }
    spark.stop()
  }
}
