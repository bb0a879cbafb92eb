package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All [[MinHashSigs.NumHashes]] MinHash signature minima in ONE pass over
  * the shingle-hash array — the fused form of the per-j SQL chain
  * `array_min(transform(gs, g -> (a_j·g + b_j) % P))`, value-identical
  * element for element (same affine constants, same arithmetic, null
  * elements skipped exactly like `array_min`, all-null/empty input yields
  * null minima). The SQL form walks the array 12 times and allocates an
  * intermediate array per hash function per row; the dedup family derives
  * signatures for every document of the corpus, so at 100 TB this is a
  * 12×-fewer-passes, zero-allocation hot loop. Registered as SQL function
  * `minhash_sigs` by [[graft.plans.GraftExtensions]] on every session
  * that resolves it. The DuckDB oracles keep the per-j
  * `list_min(list_transform(...))` form and hash-match bit-for-bit.
  */
case class MinHashSigs(child: Expression) extends UnaryExpression {

  override def prettyName: String = "minhash_sigs"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires ARRAY<BIGINT>, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashSigs.sigs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashSigs.sigs($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

object MinHashSigs {
  /** Signature length: 4 bands × rows of 3 (shared with the band keys and
    * the DuckDB oracle templates via [[graft.llm.LlmOps]]).
    */
  val NumHashes = 12
  val Bands     = 4
  val MersenneP = 2147483647L // 2^31-1

  /** Affine rehash constants, 1-based j ∈ [1, NumHashes] — the universal
    * hashing family `mh_j = min((a_j·g + b_j) mod P)` over per-shingle base
    * hashes g ∈ [0, P).
    */
  def affineA(j: Int): Long = 2L * j + 1
  def affineB(j: Int): Long = 104729L * j

  /** One pass over the hash array, all NumHashes minima at once. Null
    * elements are skipped (`array_min` semantics); no non-null element ⇒
    * every minimum is null. Static-shaped so generated code calls it
    * directly.
    */
  def sigs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](NumHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val g = arr.getLong(i)
        var j = 0
        while (j < NumHashes) {
          val v = (affineA(j + 1) * g + affineB(j + 1)) % MersenneP
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(new Array[Any](NumHashes)) // 12 nulls
    else new GenericArrayData(mins)
  }
}
