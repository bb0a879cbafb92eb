package graft

/** Ad-hoc single-query timing probe:
  * `SPARK_GRAFT_PROBE=llm_dedup_clusters SPARK_GRAFT_PROBE_N=5 sbt "runMain graft.Probe"`
  * prints one line per run plus the median — for isolating one query's
  * cost from the full bench under ambient-load noise.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = sys.env.getOrElse("SPARK_GRAFT_PROBE", "q1_agg")
    val n = sys.env.getOrElse("SPARK_GRAFT_PROBE_N", "5").toInt
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ts = (1 to n).map { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sqlContext.clearCache()
      println(f"[probe] $name run $i: $dt%.2f s")
      dt
    }
    println(f"[probe] $name median: ${ts.sorted.apply((n - 1) / 2)}%.2f s")
    spark.stop()
  }
}
