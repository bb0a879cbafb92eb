package graft.streaming

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{InputAdapter, LogicalRDD, RDDScanExec,
  WholeStageCodegenEvaluatorFactory, WholeStageCodegenExec}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

/** A narrow batch route planned and compiled once per stream start and run
  * over each micro-batch's rows, so a `foreachBatch` sink neither puts the
  * route through Catalyst nor generates its code on every epoch.
  *
  * [[PlannedRoute.apply]] plans the route over a stand-in for the stream's
  * rows, `createDataFrame(emptyRDD[Row], schema)`, which plans as one
  * `RDDScanExec`. The plan must be exactly one whole-stage codegen stage
  * whose only leaf is that stand-in: no exchange, subquery, adaptive node
  * or operator outside codegen. `apply` then generates the stage's code,
  * compiles it, and keeps the evaluator factory Spark's own stage would
  * build per execution. [[rows]] maps that factory over the epoch's rows
  * (the `LogicalRDD` that `ForeachBatchSink` wraps the batch in), so an
  * epoch costs one RDD and no planning or code generation. Reuse across
  * epochs is only valid for a plan that does not depend on the data;
  * `apply` throws otherwise, or when the code does not compile or has a
  * method over Spark's `hugeMethodLimit` (where Spark would fall back to
  * interpreted execution), on the caller's thread, before the stream
  * starts.
  *
  * The stage's SQL metrics are the start-time plan's own: they accumulate
  * over every epoch of the stream.
  *
  * Spark-internal members used (public in Spark 4.1, no package shim):
  * `WholeStageCodegenExec.doCodeGen`, `CodeGenerator.compile`,
  * `WholeStageCodegenEvaluatorFactory`, `RDD.mapPartitionsWithEvaluator`
  * and `LogicalRDD.rdd`.
  */
private[graft] final class PlannedRoute private (val stage: WholeStageCodegenExec,
    factory: WholeStageCodegenEvaluatorFactory, val schema: StructType) {

  /** The route's output rows over one epoch's `foreachBatch` batch, whose
    * plan is the `LogicalRDD` that `ForeachBatchSink` wraps the rows in.
    */
  def rows(batch: DataFrame): RDD[InternalRow] = batch.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.mapPartitionsWithEvaluator(factory)
  }

  /** [[rows]] as a DataFrame in the batch's session, for DataFrame sinks. */
  def frame(batch: DataFrame): DataFrame = {
    val out = rows(batch)
    val session = batch.sparkSession
    session.baseRelationToDataFrame(new BaseRelation with TableScan {
      def sqlContext: SQLContext = session.sqlContext
      def schema: StructType = PlannedRoute.this.schema
      override def needConversion: Boolean = false
      def buildScan(): RDD[Row] = out.asInstanceOf[RDD[Row]]
    })
  }
}

private[graft] object PlannedRoute {

  /** Plan and compile `route` over a stand-in for rows of the `input` schema. */
  def apply(spark: SparkSession, input: StructType)(route: DataFrame => DataFrame): PlannedRoute = {
    val out = route(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], input))
    val plan = out.queryExecution.executedPlan
    val stage = plan match {
      case s: WholeStageCodegenExec if overStandIn(s) => s
      case _ => throw new IllegalArgumentException(
        s"a route planned once must be narrow, one codegen stage over its one input, got:\n$plan")
    }
    val (ctx, source) = stage.doCodeGen()
    val maxMethod = CodeGenerator.compile(source)._2.maxMethodCodeSize
    val limit = out.queryExecution.sparkSession.sessionState.conf.hugeMethodLimit
    require(maxMethod <= limit,
      s"a route planned once must compile to methods within $limit bytes, got $maxMethod:\n$plan")
    val factory = new WholeStageCodegenEvaluatorFactory(
      Right(source), stage.metrics("pipelineTime"), ctx.references.toArray)
    new PlannedRoute(stage, factory, out.schema)
  }

  /** Every operator of `s` runs in its generated code, over one stand-in scan. */
  private def overStandIn(s: WholeStageCodegenExec): Boolean =
    s.collectLeaves().map(_.getClass) == Seq(classOf[RDDScanExec]) && !s.child.exists {
      case _: WholeStageCodegenExec | _: InputAdapter => true
      case p => p.subqueries.nonEmpty
    }
}
