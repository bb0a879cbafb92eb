package graft

/** Interleaved A/B measurement of one registered query under two runtime
  * conf settings — the matched-window discipline the sandbox host forces
  * (sequential runs see 2-3× ambient drift between windows; alternating
  * single reps inside ONE session spread the drift across both arms).
  *
  * Usage: runMain graft.AbBench <query> <pairsN> <confB k=v[;k=v]> [confA]
  * Arm A defaults to the session's Bench-shaped settings; only
  * runtime-settable SQL confs work here (AQE knobs, thresholds — not
  * master/serializer). Prints per-rep times, per-arm medians, and the
  * adjacent-pair win count.
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: AbBench <query> <pairsN> <confB> [confA]")
    val name = args(0)
    val pairs = args(1).toInt
    def parse(s: String): Seq[(String, String)] =
      s.split(";").filter(_.contains("=")).toSeq.map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val confB = parse(args(2))
    val confA = if (args.length > 3) parse(args(3)) else Seq.empty
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // defaults to restore for arm A (read BEFORE any arm-B override)
    val defaults = (confA ++ confB).map(_._1).distinct
      .map(k => k -> spark.conf.getOption(k)).toMap
    def setArm(confs: Seq[(String, String)]): Unit = {
      defaults.foreach { case (k, vOpt) =>
        vOpt match {
          case Some(v) => spark.conf.set(k, v)
          case None    => spark.conf.unset(k)
        }
      }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    def rep(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sqlContext.clearCache()
      dt
    }
    // warm both arms once (fixture builds, codegen)
    setArm(confA); rep(); setArm(confB); rep()
    val as = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bs = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to pairs).foreach { i =>
      // alternate starting arm per pair to cancel slow drift inside a pair
      if (i % 2 == 1) {
        setArm(confA); as += rep(); setArm(confB); bs += rep()
      } else {
        setArm(confB); bs += rep(); setArm(confA); as += rep()
      }
      println(f"[ab] pair $i: A=${as.last}%.3f B=${bs.last}%.3f")
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
    val wins = as.zip(bs).count { case (a, b) => b < a }
    println(f"[ab] $name: A med ${med(as.toSeq)}%.3f  B med ${med(bs.toSeq)}%.3f  " +
      f"B wins $wins/${pairs}  (A=${as.map(x => f"$x%.2f").mkString(",")}  " +
      f"B=${bs.map(x => f"$x%.2f").mkString(",")})")
    spark.stop()
  }
}
