package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.col

/** The width rule ([[LlmOps.coresWide]]): a CPU-heavy stage runs at least
  * the session's cores wide, without ever coalescing a wider frame.
  */
class CoresWideSpec extends SparkSpec {
  private def cores = spark.sparkContext.defaultParallelism

  /** Every shuffle exchange in `df`'s plan, looking through AQE. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    val p: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    p.collect { case e: ShuffleExchangeExec => e }
  }

  test("a 1-partition frame comes back cores wide, hash-partitioned on the key") {
    val df = spark.range(0, 100, 1, 1).toDF("k")
    val out = LlmOps.coresWide(df, Seq("k"))
    assert(out.rdd.getNumPartitions === cores)
    val ex = exchanges(out)
    assert(ex.size === 1, ex.mkString("\n"))
    assert(ex.head.shuffleOrigin === REPARTITION_BY_NUM)
    ex.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions === cores)
        assert(h.expressions.flatMap(_.references.map(_.name)) === Seq("k"))
      case other => fail(s"expected hash partitioning on k, got $other")
    }
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === (0L until 100L))
  }

  test("a frame already at least cores wide comes back unchanged, never coalesced") {
    val df = spark.range(0, 100, 1, 2 * cores).toDF("k")
    val out = LlmOps.coresWide(df, Seq("k"))
    assert(out eq df, "a wide scan-fed frame must be returned as is")
    assert(exchanges(out).isEmpty)
    assert(out.rdd.getNumPartitions === 2 * cores)
  }

  test("a wide frame that feeds a shuffle gets the by-number exchange on the key") {
    val df = spark.range(0, 100, 1, 2 * cores).toDF("k")
    val out = LlmOps.coresWide(df, Seq("k"), feedsShuffle = true)
    val ex = exchanges(out)
    assert(ex.map(_.shuffleOrigin) === Seq(REPARTITION_BY_NUM))
    // the consumer's groupBy on the key reuses it instead of adding one
    assert(exchanges(out.groupBy("k").count()).size === 1)
    assert(out.groupBy("k").count().rdd.getNumPartitions === cores)
  }

  test("a tiny exchange-fed frame still runs cores wide after AQE") {
    def tiny = spark.range(0, 10, 1, 1)
      .groupBy((col("id") % 5).as("k")).count()
    // precondition: AQE coalesces the byte-small aggregate to one partition
    assert(tiny.rdd.getNumPartitions === 1)
    for (keys <- Seq(Seq.empty[String], Seq("k"))) {
      val out = LlmOps.coresWide(tiny, keys)
      assert(out.rdd.getNumPartitions === cores, s"keys=$keys")
      assert(exchanges(out).exists(_.shuffleOrigin == REPARTITION_BY_NUM))
      assert(out.collect().map(_.getLong(0)).sorted.toSeq === (0L until 5L))
    }
  }
}
