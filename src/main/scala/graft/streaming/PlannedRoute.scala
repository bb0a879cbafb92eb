package graft.streaming

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

/** A narrow batch route planned once per stream start and run over each
  * micro-batch's rows, so a `foreachBatch` sink does not put the route
  * through Catalyst's analyzer and optimizer on every epoch.
  *
  * [[PlannedRoute.apply]] plans the route over a stand-in for the
  * stream's rows, `createDataFrame(emptyRDD[Row], schema)`, which plans as
  * one `RDDScanExec`. [[rows]] swaps the stand-in's RDD for the epoch's
  * rows (`batch.queryExecution.toRdd`, the `foreachBatch` batch's own
  * planned RDD) and executes the kept physical plan. Reuse across epochs
  * is only valid for a plan that does not depend on the data, so the
  * planned tree must hold exactly one stand-in scan and no exchange,
  * subquery or adaptive node; [[PlannedRoute.apply]] throws otherwise,
  * on the caller's thread, before the stream starts.
  *
  * Spark-internal members used (public in Spark 4.1, no package shim):
  * `RDDScanExec.copy`, for the swap, and `SparkPlan.execute`.
  */
private[graft] final class PlannedRoute private (plan: SparkPlan, val schema: StructType) {

  /** The route's output rows over one epoch's `foreachBatch` batch. */
  def rows(batch: DataFrame): RDD[InternalRow] = {
    val input = batch.queryExecution.toRdd
    plan.transform { case s: RDDScanExec => s.copy(rdd = input) }.execute()
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

  /** Plan `route` over a stand-in for rows of the `input` schema. */
  def apply(spark: SparkSession, input: StructType)(route: DataFrame => DataFrame): PlannedRoute = {
    val out = route(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], input))
    val plan = out.queryExecution.executedPlan
    val scans = plan.collect { case s: RDDScanExec => s }.size
    val wide = plan.exists {
      case _: Exchange | _: AdaptiveSparkPlanExec => true
      case p => p.subqueries.nonEmpty
    }
    require(scans == 1 && !wide,
      s"a route planned once must be narrow over its one input, got:\n$plan")
    new PlannedRoute(plan, out.schema)
  }
}
