package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** P3 — epoch-timestamp unit normalization as a native Catalyst expression
  * with whole-stage codegen (SURVEY §7.3's demonstration extension point).
  *
  * Semantics mirror the reference's `_normalize_commit_ms`
  * (`app/services/sf_pubsub.py:215-227`): > 1e14 → nanoseconds
  * (floor-divide by 1e6), > 1e11 → millis (passthrough), > 1e9 → seconds
  * (×1000), else passthrough; null → null. [[graft.cdc.ops.Normalize.commitMsLong]]
  * resolves it as SQL function `normalize_epoch_millis`, registered by
  * [[graft.plans.GraftExtensions]]; the specs compare it with the
  * SQL-expressible `when`-chain the DuckDB oracle states.
  *
  * The generated code is three branch-predictable long compares — no
  * Decimal round-trip like the built-in chain's exact-division trick — so
  * it both runs leaner and keeps the pipeline inside one codegen stage.
  */
case class NormalizeEpochMillis(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_epoch_millis requires BIGINT input, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "normalize_epoch_millis"

  override protected def nullSafeEval(input: Any): Any =
    NormalizeEpochMillis.normalize(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(($c) > 100000000000000L) ? java.lang.Math.floorDiv(($c), 1000000L)" +
        s" : ((($c) > 100000000000L) ? ($c)" +
        s" : ((($c) > 1000000000L) ? ($c) * 1000L : ($c)))")

  override protected def withNewChildInternal(newChild: Expression): NormalizeEpochMillis =
    copy(child = newChild)
}

object NormalizeEpochMillis {
  def normalize(v: Long): Long =
    if (v > 100000000000000L) Math.floorDiv(v, 1000000L)
    else if (v > 100000000000L) v
    else if (v > 1000000000L) v * 1000L
    else v
}
