package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** The 32-bit byte-4-gram simhash of a binary payload in ONE pass — the
  * fused form of [[graft.llm.Multimodal.payloadNearDedup]]'s SQL chain
  * `hex(payload) → explode(distinct 8-hex-char windows) → h56 per gram →
  * 32 signed-vote SUMs per doc`, value-identical bit for bit: the gram set
  * is the distinct 4-byte windows (stride 1; one short window when the
  * payload is under 4 bytes, including the empty gram for an empty
  * payload), each gram hashed as its UPPERCASE hex string through the same
  * 56-bit md5 prefix, votes summed over the hash's low 32 bits, bit j set
  * iff its vote is positive. Vote addition commutes, so the sorted-dedup
  * iteration order here and `array_distinct`'s first-seen order agree
  * exactly.
  *
  * The SQL chain materializes a hex string of the payload, explodes ~one
  * row per payload byte, and funnels them back through a 32-aggregate
  * groupBy — per-corpus shuffle mass ∝ payload bytes. This expression
  * keeps the whole computation inside the scan's codegen stage: the only
  * shuffle left in near-dup detection is the chunk-bucket self-join. At
  * 100 TB of media that's the difference between shuffling the corpus
  * and shuffling one long per document. Registered as SQL function
  * `payload_simhash` by [[graft.plans.GraftExtensions]] on every session
  * that resolves it. The DuckDB oracle keeps the explode/groupBy form and
  * hash-matches bit-for-bit.
  */
case class PayloadSimHash(child: Expression) extends UnaryExpression {

  override def prettyName: String = "payload_simhash"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"payload_simhash requires BINARY, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any =
    PayloadSimHash.simhash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PayloadSimHash.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): PayloadSimHash =
    copy(child = newChild)
}

object PayloadSimHash {
  /** Code width (shared with [[graft.llm.Multimodal.PayloadSimBits]]). */
  val Bits = 32

  private val Hex = "0123456789ABCDEF".getBytes("US-ASCII")

  // MessageDigest is not thread-safe; one per task thread, reset per use
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One pass: distinct 4-byte windows → h56(hex gram) → signed bit votes
    * → assembled code. Static-shaped so generated code calls it directly.
    */
  def simhash(payload: Array[Byte]): Long = {
    val n = payload.length
    val votes = new Array[Int](Bits)
    val digest = md.get()
    if (n <= 3) {
      // exactly one (short, possibly empty) gram — hex of the whole payload
      val buf = new Array[Byte](2 * n)
      var i = 0
      while (i < n) {
        val b = payload(i) & 0xff
        buf(2 * i) = Hex(b >>> 4)
        buf(2 * i + 1) = Hex(b & 0xf)
        i += 1
      }
      vote(votes, h56(digest, buf))
    } else {
      // pack each 4-byte window into an int, sort, vote on distinct values
      val w = n - 3
      val wins = new Array[Int](w)
      var k = 0
      while (k < w) {
        wins(k) = ((payload(k) & 0xff) << 24) | ((payload(k + 1) & 0xff) << 16) |
          ((payload(k + 2) & 0xff) << 8) | (payload(k + 3) & 0xff)
        k += 1
      }
      java.util.Arrays.sort(wins)
      val buf = new Array[Byte](8)
      k = 0
      while (k < w) {
        if (k == 0 || wins(k) != wins(k - 1)) {
          val v = wins(k)
          var b = 0
          while (b < 4) {
            val by = (v >>> (24 - 8 * b)) & 0xff
            buf(2 * b) = Hex(by >>> 4)
            buf(2 * b + 1) = Hex(by & 0xf)
            b += 1
          }
          vote(votes, h56(digest, buf))
        }
        k += 1
      }
    }
    var sh = 0L
    var j = 0
    while (j < Bits) {
      if (votes(j) > 0) sh |= 1L << j
      j += 1
    }
    sh
  }

  /** First 7 md5 digest bytes big-endian of the ASCII gram — the same
    * value as [[Md5Prefix56.hash]] over the equivalent string.
    */
  private def h56(digest: java.security.MessageDigest, ascii: Array[Byte]): Long = {
    digest.reset()
    val b = digest.digest(ascii)
    ((b(0) & 0xffL) << 48) | ((b(1) & 0xffL) << 40) | ((b(2) & 0xffL) << 32) |
      ((b(3) & 0xffL) << 24) | ((b(4) & 0xffL) << 16) | ((b(5) & 0xffL) << 8) |
      (b(6) & 0xffL)
  }

  private def vote(votes: Array[Int], h: Long): Unit = {
    var j = 0
    while (j < Bits) {
      votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
      j += 1
    }
  }
}
