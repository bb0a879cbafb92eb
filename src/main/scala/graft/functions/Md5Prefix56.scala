package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The 56-bit md5-prefix hash (`LlmOps.h56`) as a native codegen
  * expression: value-identical to
  * `conv(substr(md5(x), 1, 14), 16, 10)` — the first 14 hex chars of the
  * digest ARE its first 7 bytes, read big-endian — but computed straight
  * from the digest bytes. The SQL chain materializes a 32-char hex string
  * per value and re-parses 14 chars of it; at sf0.1 the dedup pipelines
  * hash ~10⁶ shingles, and at 100 TB the hash is the dominant dedup cost
  * (SURVEY §9), so the string round-trip is worth deleting. Registered as
  * SQL function `h56` by [[graft.plans.GraftExtensions]] on every session
  * that resolves it; the DuckDB oracles keep the arithmetic form and
  * hash-match bit-for-bit.
  */
case class Md5Prefix56(child: Expression) extends UnaryExpression {

  override def prettyName: String = "h56"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"h56 requires STRING, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any =
    Md5Prefix56.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Md5Prefix56.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix56 =
    copy(child = newChild)
}

object Md5Prefix56 {
  // MessageDigest is not thread-safe; one per task thread, reset per use
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 7 digest bytes big-endian — exactly the value of
    * `conv(substr(md5(x),1,14),16,10)`. Static-shaped so generated code
    * calls it directly.
    */
  def hash(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val b = d.digest(s.getBytes)
    ((b(0) & 0xffL) << 48) | ((b(1) & 0xffL) << 40) | ((b(2) & 0xffL) << 32) |
      ((b(3) & 0xffL) << 24) | ((b(4) & 0xffL) << 16) | ((b(5) & 0xffL) << 8) |
      (b(6) & 0xffL)
  }
}
