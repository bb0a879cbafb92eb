package graft.plans

import graft.SparkSpec
import graft.cdc.AvroCodec
import graft.cdc.ops.Route
import graft.functions._
import graft.llm.{LlmOps, Multimodal, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}

/** A session built without `spark.sql.extensions` plans the same native
  * expressions: every operator registers the functions it resolves on its
  * frame's session ([[GraftExtensions.register]]).
  */
class ExtensionlessSessionSpec extends SparkSpec {

  private val natives = Seq("normalize_epoch_millis", "decode_change_event", "h56",
    "minhash_sigs", "payload_simhash", "bigram_rle", "token_rle")

  /** A session whose registry lacks every native function — `newSession`
    * clones the registry, so the shared suite session keeps them.
    */
  private def extensionless(): SparkSession = {
    val s = spark.newSession()
    natives.foreach(n => s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    assert(natives.forall(n => !s.catalog.functionExists(n)))
    s
  }

  // the analyzed plan: the optimizer folds a plan over local rows away
  private def holds(df: DataFrame, p: Expression => Boolean): Boolean =
    df.queryExecution.analyzed.exists(_.expressions.exists(_.exists(p)))

  test("every native function plans as its Catalyst expression, never a ScalaUDF") {
    val s = extensionless()
    import s.implicits._
    val docs = Seq((1L, "a b a c", "en"), (2L, "b c d", "en")).toDF("doc_id", "text", "lang")
    val plans: Seq[(String, DataFrame, Class[_])] = Seq(
      ("h56", TextAnalysis.trainValSplit(docs), classOf[Md5Prefix56]),
      ("minhash_sigs", LlmOps.withMinHashBands(Seq((1L, Seq(3L, 5L))).toDF("doc_id", "gs")),
        classOf[MinHashSigs]),
      ("bigram_rle", LlmOps.docBigrams(docs), classOf[BigramRle]),
      ("token_rle", LlmOps.docTokens(docs), classOf[TokenRle]),
      ("payload_simhash", Multimodal.payloadSims(Seq((1L, Array[Byte](1, 2, 3, 4, 5)))
        .toDF("doc_id", "payload")), classOf[PayloadSimHash]),
      ("normalize_epoch_millis", Route.withCommitMs(Seq(1704067200L).toDF("commit_raw")),
        classOf[NormalizeEpochMillis]))
    plans.foreach { case (name, df, native) =>
      assert(holds(df, native.isInstance),
        s"$name: no ${native.getSimpleName} in\n${df.queryExecution.analyzed}")
      assert(!holds(df, _.isInstanceOf[ScalaUDF]), s"$name planned a ScalaUDF")
      df.collect()
    }
  }

  test("AvroCodec.decode returns the fixture's rows") {
    val s = extensionless()
    val registry = Map("v1" -> AvroCodec.SchemaV1Json, "v2" -> AvroCodec.SchemaV2Json)
    def fixture(ss: SparkSession) = ss.createDataFrame(Seq(
      (1L, "v1", AvroCodec.encode(AvroCodec.SchemaV1Json, "Account", "UPDATE",
        Seq("r1", "r2"), Some(1704067200000L), Some("true"))),
      (2L, "v2", AvroCodec.encode(AvroCodec.SchemaV2Json, "Contact", "CREATE",
        Seq("r3"), Some(1704067200L), Some("no"), Map("source_org" -> "org9")))))
      .toDF("replay_id", "schema_id", "payload")
    def rows(ss: SparkSession) =
      AvroCodec.decode(ss, fixture(ss), registry).orderBy("replay_id").collect().toSeq
    val got = rows(s)
    assert(got.map(_.getAs[String]("entity")) === Seq("Account", "Contact"))
    assert(got === rows(spark))
  }

  test("the per-language quality classifier builds and probes") {
    val s = extensionless()
    import s.implicits._
    val d = Seq(
        (1L, "solid useful prose with plenty of ordinary words here", "en"),
        (2L, "zq zq zq zq zq zq zq zq zq zq zq zq", "en"),
        (3L, "another perfectly reasonable document of normal text", "xx"))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-noext-qclf").toString
    LlmOps.buildQualityClassifier(d, dir, byLang = true)
    val scored = LlmOps.qualityScoreStored(d, dir)
    assert(!holds(scored, _.isInstanceOf[ScalaUDF]))
    assert(scored.collect().length === 3)
  }
}
