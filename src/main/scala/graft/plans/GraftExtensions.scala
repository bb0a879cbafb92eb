package graft.plans

import graft.functions._
import org.apache.spark.sql.{DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions: pre-register the native codegen'd SQL functions
  * (the table in the companion object). Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  * Optional: every operator that resolves one of these functions by name
  * registers it first through [[GraftExtensions.register]], so a session
  * built without the extensions plans the same expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private def fn(name: String, cls: Class[_])(builder: Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** The native functions: SQL name, description, builder. */
  private val Functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("normalize_epoch_millis", classOf[NormalizeEpochMillis])(c => NormalizeEpochMillis(c.head)),
    fn("decode_change_event", classOf[DecodeChangeEvent])(DecodeChangeEvent.builder),
    fn("h56", classOf[Md5Prefix56])(c => Md5Prefix56(c.head)),
    fn("minhash_sigs", classOf[MinHashSigs])(c => MinHashSigs(c.head)),
    fn("payload_simhash", classOf[PayloadSimHash])(c => PayloadSimHash(c.head)),
    fn("bigram_rle", classOf[BigramRle])(c => BigramRle(c.head)),
    fn("token_rle", classOf[TokenRle])(c => TokenRle(c.head)))

  /** Register every entry of [[Functions]] that `df`'s session lacks, with
    * the builder the extensions inject; returns `df`.
    */
  def register(df: DataFrame): DataFrame = {
    val registry = df.sparkSession.sessionState.functionRegistry
    Functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    df
  }
}
