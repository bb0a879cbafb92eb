package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A document's reduced bigram table `array<struct<w1, w2, n>>` in ONE
  * imperative pass over the text — the fused form of the SQL chain in
  * [[graft.llm.LlmOps.docBigrams]] (split → adjacent-pair structs →
  * array_sort → run-length encode via filtered end positions), row-set
  * identical: same space-split tokenization (single-space pattern, limit
  * -1 — empty tokens between consecutive separators and a trailing empty
  * token are all KEPT, exactly like `split(text, ' ')`), same (w1, w2)
  * groups, same integer counts; fewer than two tokens ⇒ empty array (the
  * SQL form's `size(t) >= 2` filter — `explode` drops the row either
  * way). The SQL chain walks the token array five times through
  * interpreted higher-order lambdas and allocates a struct per occurrence
  * before sorting; the fluency family derives bigrams for every document
  * it touches (in-query scoring, the stored-LM build, every LM-staged
  * curation run, the streaming gate), so at 100 TB this is the same
  * hot-loop fusion argument as [[MinHashSigs]]. Output order is the
  * binary (w1, w2) sort — deterministic, though every consumer treats
  * the exploded rows as a set. Registered as SQL function `bigram_rle`
  * by [[graft.plans.GraftExtensions]] on every session that resolves it.
  * DuckDB oracles keep their CTE bigram derivations and hash-match
  * bit-for-bit.
  */
case class BigramRle(child: Expression) extends UnaryExpression {

  override def prettyName: String = "bigram_rle"
  override def dataType: DataType = BigramRle.OutType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bigram_rle requires STRING, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    BigramRle.rle(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BigramRle.rle($c)")

  override protected def withNewChildInternal(newChild: Expression): BigramRle =
    copy(child = newChild)
}

object BigramRle {
  val OutType: ArrayType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = true),
    StructField("w2", StringType, nullable = true),
    StructField("n", LongType, nullable = false))), containsNull = false)

  private val Space = UTF8String.fromString(" ")

  /** One pass: split, sort the n-1 adjacent-pair INDICES (no per-pair
    * struct allocation), run-length encode. Static-shaped so generated
    * code calls it directly.
    */
  def rle(text: UTF8String): ArrayData = {
    val toks = text.split(Space, -1)
    val n = toks.length
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // sort pair start indices by (w1, w2) binary order — the same total
    // order array_sort applies to struct<string,string> elements
    val idx = new Array[Integer](n - 1)
    var i = 0
    while (i < n - 1) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c1 = toks(a.intValue()).compareTo(toks(b.intValue()))
        if (c1 != 0) c1
        else toks(a.intValue() + 1).compareTo(toks(b.intValue() + 1))
      }
    })
    val out = new java.util.ArrayList[InternalRow](n - 1)
    var runStart = 0
    i = 1
    while (i <= n - 1) {
      val boundary = i == n - 1 || {
        val a = idx(runStart).intValue(); val b = idx(i).intValue()
        toks(a).compareTo(toks(b)) != 0 || toks(a + 1).compareTo(toks(b + 1)) != 0
      }
      if (boundary) {
        val a = idx(runStart).intValue()
        out.add(new GenericInternalRow(Array[Any](
          toks(a), toks(a + 1), (i - runStart).toLong)))
        runStart = i
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
