package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A document's reduced term-frequency table `array<struct<tok, tf>>` in
  * ONE imperative pass over the text — [[BigramRle]]'s unigram sibling:
  * same space-split tokenization (single-space pattern, limit -1 — empty
  * tokens between consecutive separators and a trailing empty token are
  * all KEPT, exactly like `split(text, ' ')`), tokens sorted in UTF-8
  * binary order, run-length encoded to (tok, tf). Empty text yields the
  * one-token table of its single empty token (split never returns an
  * empty array), so `Σ tf = size(split(text, ' '))` holds for EVERY
  * non-null text — the invariant that lets a scorer's per-doc mass
  * derive from the same split.
  *
  * Why it exists: the quality-classifier scorer used to join its weight
  * table per token OCCURRENCE — the per-occurrence re-expansion the
  * (doc, w1, w2, n) bigram reduction was built to avoid (the round-10
  * tokenFreqScore regression). Reducing to (doc, tok, tf) WITHIN the
  * row costs no exchange (a doc's tokens all live in its own text) and
  * shrinks both the join's probe side and the per-doc fold's list by
  * the corpus' mean token repetition. Registered as SQL function
  * `token_rle` by [[graft.plans.GraftExtensions]] on every session that
  * resolves it. DuckDB oracles state the same reduction as a
  * (doc_id, tok) GROUP BY and hash-match bit-for-bit.
  */
case class TokenRle(child: Expression) extends UnaryExpression {

  override def prettyName: String = "token_rle"
  override def dataType: DataType = TokenRle.OutType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_rle requires STRING, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    TokenRle.rle(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenRle.rle($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenRle =
    copy(child = newChild)
}

object TokenRle {
  val OutType: ArrayType = ArrayType(StructType(Seq(
    StructField("tok", StringType, nullable = true),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  private val Space = UTF8String.fromString(" ")

  /** One pass: split, sort token indices in UTF8String binary order (no
    * per-token struct allocation), run-length encode. Static-shaped so
    * generated code calls it directly.
    */
  def rle(text: UTF8String): ArrayData = {
    val toks = text.split(Space, -1)
    val n = toks.length
    val idx = new Array[Integer](n)
    var i = 0
    while (i < n) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int =
        toks(a.intValue()).compareTo(toks(b.intValue()))
    })
    val out = new java.util.ArrayList[InternalRow](n)
    var runStart = 0
    i = 1
    while (i <= n) {
      val boundary = i == n ||
        toks(idx(runStart).intValue()).compareTo(toks(idx(i).intValue())) != 0
      if (boundary) {
        out.add(new GenericInternalRow(Array[Any](
          toks(idx(runStart).intValue()), (i - runStart).toLong)))
        runStart = i
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
