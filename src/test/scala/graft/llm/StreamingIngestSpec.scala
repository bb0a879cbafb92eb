package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The live near-dup ingest gate end-to-end: micro-batches probe the
  * materialized LSH index, survivors append to corpus AND index, so a
  * near-copy arriving in a LATER micro-batch is dropped against a
  * survivor admitted earlier — the cross-batch property only the index
  * append provides.
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))

  private def mk(seed: String) = (1 to 30).map(i => s"$seed$i").mkString(" ")

  test("streamed ingest gate: per-batch probe, survivor append, cross-batch drop") {
    val idx = Files.createTempDirectory("graft-si-idx").toString
    val src = Files.createTempDirectory("graft-si-src").toString
    val out = Files.createTempDirectory("graft-si-out").toString
    val ckp = Files.createTempDirectory("graft-si-ckp").toString

    val base = docs(1L -> mk("alpha"), 2L -> mk("beta"))
    LlmOps.buildMinHashIndex(base, idx)

    // slice 1: a tailed near-copy of BASE doc 1 (drops) + a novel doc
    // slice 2: a tailed near-copy of slice-1's SURVIVOR (drops only if the
    //          gate appended it) + a novel doc
    def writeSlice(name: String, d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      val tmp = s"$src/_$name"
      d.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"$name.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(ts)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val t0 = System.currentTimeMillis() - 60000
    writeSlice("s1", docs(100L -> (mk("alpha") + " tail27"), 101L -> mk("delta")), t0)
    writeSlice("s2", docs(200L -> (mk("delta") + " tail27"), 201L -> mk("omega")), t0 + 30000)

    // compactEvery=2 exercises the in-loop maintenance: epoch 1 (second
    // micro-batch) folds the appended index files before the drain ends
    StreamingIngest.start(spark, src, idx, out, ckp, compactEvery = 2)
      .awaitTermination()

    val admitted = spark.read.parquet(out)
    assert(admitted.columns.toSet === base.columns.toSet + "epoch",
      "admitted corpus keeps the full document schema plus the epoch key")
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(101L, 201L),
      "base near-copy and cross-batch near-copy drop; novel docs admitted")
    // the index grew by exactly the survivors, bands stay in lockstep
    val sig = spark.read.parquet(s"$idx/signatures")
    assert(sig.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 101L, 201L))
    assert(spark.read.parquet(s"$idx/bands").count() === sig.count() * LlmOps.Bands)
    // the coverage audit reads clean after the drain: base ∪ admitted IS
    // the indexed set — no unindexed arrivals, no orphaned index rows
    val cov = LlmOps.indexCoverage(
        base.select("doc_id").unionByName(admitted.select("doc_id")), idx)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cov === Map("indexed" -> 4L),
      s"post-ingest corpus and index must reconcile exactly, got $cov")
  }

  test("quality gate leads: a heuristic-failing doc drops before shingling, never reaching corpus or index") {
    val idx = Files.createTempDirectory("graft-sq-idx").toString
    val src = Files.createTempDirectory("graft-sq-src").toString
    val out = Files.createTempDirectory("graft-sq-out").toString
    val ckp = Files.createTempDirectory("graft-sq-ckp").toString
    val base = docs(1L -> mk("alpha"))
    LlmOps.buildMinHashIndex(base, idx)
    // doc 300 is NOVEL text (the minhash gate would admit it) but fails
    // the heuristic bar (7 tokens < minTokens=10) — only the leading
    // quality stage can drop it; doc 301 passes every gate
    val d = docs(300L -> "too short to pass quality bar", 301L -> mk("delta"))
    val tmp = s"$src/_b1"
    d.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new java.io.File(src, "b1.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    StreamingIngest.start(spark, src, idx, out, ckp, qualityGate = true)
      .awaitTermination()
    val admitted = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(301L),
      s"quality-failing doc must drop at stage 1, got $admitted")
    // and it never reached the index either — the stage runs before
    // any derivation, so nothing of doc 300 was shingled or appended
    val indexed = spark.read.parquet(s"$idx/signatures")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed === Set(1L, 301L), s"index must not carry the dropped doc: $indexed")
  }

  test("trained quality gate deploys in the live loop: junk-vocabulary text the heuristic rules admit drops at the learned bar") {
    val idx = Files.createTempDirectory("graft-sc-idx").toString
    val src = Files.createTempDirectory("graft-sc-src").toString
    val out = Files.createTempDirectory("graft-sc-out").toString
    val ckp = Files.createTempDirectory("graft-sc-ckp").toString
    val qm = Files.createTempDirectory("graft-sc-qm").toString
    LlmOps.buildMinHashIndex(docs(1L -> mk("alpha")), idx)
    // training corpus: two clean docs (keep class) + two junk docs that
    // fail the heuristic's min-token rule (drop class) — twelve distinct
    // junk tokens enter the drop-class vocabulary
    val junkToks = (0 until 12).map(i => s"qjnk$i")
    LlmOps.buildQualityClassifier(docs(
      10L -> mk("beta"), 11L -> mk("gamma"),
      12L -> junkToks.take(6).mkString(" "),
      13L -> junkToks.drop(6).mkString(" ")), qm)
    // streamed batch: doc 400 recombines ALL twelve junk tokens into a
    // shape the heuristic RULES pass (12 tokens, clean lengths, no
    // repetition, no punctuation) — only the learned vocabulary evidence
    // can drop it; doc 401 recombines the two clean docs' tokens (novel
    // to the minhash index, keep-class for the classifier)
    val clean = (mk("beta").split(" ").take(15) ++
      mk("gamma").split(" ").drop(15)).mkString(" ")
    val d = docs(400L -> junkToks.mkString(" "), 401L -> clean)
    assert(TextAnalysis.qualityFilter(d).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(400L, 401L),
      "fixture: the junk recombination must PASS the heuristic rules")
    val tmp = s"$src/_b1"
    d.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new java.io.File(src, "b1.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    StreamingIngest.start(spark, src, idx, out, ckp,
      qualityGate = true, qualityModelDir = Some(qm))
      .awaitTermination()
    val admitted = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(401L),
      s"junk-vocabulary doc must drop at the trained stage, got $admitted")
    // dropped before any derivation: the index never saw doc 400
    val indexed = spark.read.parquet(s"$idx/signatures")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed === Set(1L, 401L),
      s"index must not carry the trained-gate drop: $indexed")
  }

  test("decontamination gate composes: a benchmark-leaking doc drops off the shared signature cache, clean docs admit") {
    val idx = Files.createTempDirectory("graft-sd-idx").toString
    val dec = Files.createTempDirectory("graft-sd-dec").toString
    val src = Files.createTempDirectory("graft-sd-src").toString
    val out = Files.createTempDirectory("graft-sd-out").toString
    val ckp = Files.createTempDirectory("graft-sd-ckp").toString
    LlmOps.buildMinHashIndex(docs(1L -> mk("alpha")), idx)
    // the frozen "evaluation suite": one benchmark doc
    LlmOps.buildDecontamIndex(docs(900L -> mk("bench")), dec)
    // doc 400 embeds a verbatim benchmark window (novel to the LSH
    // index — only the decontam gate can drop it); doc 401 is clean
    val d = docs(
      400L -> (s"leaked fragment ${mk("bench").split(" ").take(12).mkString(" ")} inside scraped text"),
      401L -> mk("gamma"))
    val tmp = s"$src/_b1"
    d.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new java.io.File(src, "b1.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    StreamingIngest.start(spark, src, idx, out, ckp,
      decontamIndexDir = Some(dec)).awaitTermination()
    val admitted = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(401L),
      s"benchmark-leaking doc must drop at the decontam gate, got $admitted")
    val indexed = spark.read.parquet(s"$idx/signatures")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed === Set(1L, 401L),
      s"the contaminated doc must not reach the index: $indexed")
  }

  test("fluency gate composes: gibberish and short docs drop against the stored LM, fluent novel text passes") {
    val idx = Files.createTempDirectory("graft-sif-idx").toString
    val lm = Files.createTempDirectory("graft-sif-lm").toString
    val src = Files.createTempDirectory("graft-sif-src").toString
    val out = Files.createTempDirectory("graft-sif-out").toString
    val ckp = Files.createTempDirectory("graft-sif-ckp").toString

    val base = docs(1L -> mk("alpha"), 2L -> mk("beta"))
    LlmOps.buildMinHashIndex(base, idx)
    LlmOps.buildFluencyModel(base, lm)

    def writeSlice(name: String, d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      val tmp = s"$src/_$name"
      d.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"$name.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(ts)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    // 100: near-copy of base doc 1 → minhash gate drops it before the LM
    //      is ever consulted
    // 101: novel under LSH (a short subrange of base doc 2's tokens) but
    //      every transition is in the LM with p=1 → fluency 1.0, admitted
    // 102: novel AND gibberish — no transition the reference corpus has
    //      seen → fluency 0, dropped by the LM gate
    // 103: one token — no transition evidence, dropped (short-doc policy)
    val fluent = (3 to 12).map(i => s"beta$i").mkString(" ")
    writeSlice("s1", docs(
      100L -> (mk("alpha") + " tail27"),
      101L -> fluent,
      102L -> mk("qqzz"),
      103L -> "solo"), System.currentTimeMillis() - 60000)

    StreamingIngest.start(spark, src, idx, out, ckp,
      lmDir = Some(lm), fluencyThreshold = Some(0.5))
      .awaitTermination()

    val admitted = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(101L),
      s"only the fluent novel doc passes both gates, got $admitted")
    // the index grew by exactly the composed survivors — the dropped
    // docs' signatures never landed
    assert(spark.read.parquet(s"$idx/signatures")
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 101L),
      "index must grow by the fluency-gate survivors only")
  }

  test("CCNet cuts gate in the live loop: head kept, middle at the sampled rate, tail never — parity with the batch rule") {
    // reference LM: tokens [a b]×8 then c → P(b|a)=1, P(a|b)=7/8,
    // P(c|b)=1/8. Calibration slice (refMod 1): 201 f=2·(1/8)/3≈0.083,
    // 202 f=7/8, 203 f=1.0 → frozen cuts (0.083, 201) / (0.875, 202).
    // Arrivals: 301 "a b a b" f≈0.958 → head; 302 "b c b a" f=1/3 →
    // middle; 303 gibberish f=0 → tail. All three are LSH-novel against
    // the unrelated index base.
    val ref = docs(1000L -> ((1 to 8).flatMap(_ => Seq("a", "b")) :+ "c").mkString(" "))
    val lm = Files.createTempDirectory("graft-sic-lm").toString
    LlmOps.buildFluencyModel(ref, lm)
    val cuts = Files.createTempDirectory("graft-sic-cuts").toString
    LlmOps.buildLmPartitioner(
      docs(201L -> "b c b c", 202L -> "b a", 203L -> "a b"), lm, cuts,
      refMod = 1)
    val idx0 = Files.createTempDirectory("graft-sic-idx0").toString
    val arrivals = docs(301L -> "a b a b", 302L -> "b c b a",
      303L -> "z q z q")
    def runLoop(permille: Int): Set[Long] = {
      val idx = Files.createTempDirectory("graft-sic-idx").toString
      LlmOps.buildMinHashIndex(docs(1L -> mk("alpha"), 2L -> mk("beta")), idx)
      val src = Files.createTempDirectory("graft-sic-src").toString
      val out = Files.createTempDirectory("graft-sic-out").toString
      val ckp = Files.createTempDirectory("graft-sic-ckp").toString
      arrivals.coalesce(1).write.mode("overwrite").parquet(src)
      StreamingIngest.start(spark, src, idx, out, ckp,
        lmDir = Some(lm), lmCutsDir = Some(cuts), midPermille = permille)
        .awaitTermination()
      spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    // middle kept whole: head + middle admit, tail never
    assert(runLoop(1000) === Set(301L, 302L), "midPermille=1000 keeps head+middle")
    // middle closed: only the head survives
    assert(runLoop(0) === Set(301L), "midPermille=0 keeps head only")
    // at the default rate the loop admits EXACTLY the batch rule's keep
    // set — live/batch parity on the same frozen artifacts (the salted
    // middle sample is deterministic in the id, so the two surfaces
    // cannot disagree)
    val batchKeep = LlmOps.lmPartitionApply(arrivals, lm, cuts,
      midPermille = 500).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(runLoop(500) === batchKeep,
      s"live selection must equal lmPartitionApply's keep set $batchKeep")
    // the misconfiguration is loud: cuts without the global model
    val thrown = intercept[IllegalArgumentException] {
      StreamingIngest.start(spark, idx0, idx0, idx0, idx0,
        lmCutsDir = Some(cuts))
    }
    assert(thrown.getMessage.contains("lmCutsDir needs lmDir"))
  }

  test("per-language fluency gate in the live loop: the minority doc its own model admits is not judged on the majority's bar") {
    val idx = Files.createTempDirectory("graft-sil-idx").toString
    val lm = Files.createTempDirectory("graft-sil-lm").toString
    val lmG = Files.createTempDirectory("graft-sil-lmg").toString
    val src = Files.createTempDirectory("graft-sil-src").toString
    val out = Files.createTempDirectory("graft-sil-out").toString
    val outG = Files.createTempDirectory("graft-sil-outg").toString
    val ckp = Files.createTempDirectory("graft-sil-ckp").toString
    val ckpG = Files.createTempDirectory("graft-sil-ckpg").toString

    def langDocs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "lang")
        .withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("bigint"))
    // trusted corpus: en majority shares the prefix 'the' with the xx
    // minority but transitions differently from it — the dilution shape
    // (the per-language LM spec's fixture, live)
    val trusted = langDocs(
      (1L to 20L).map(i =>
        (i * 10, "the dog runs and the cat sleeps and the bird sings now", "en")) ++ Seq(
        (5L, "the zub mira the zub mira the zub mira dun", "xx"),
        (15L, "the zub mira dun the zub mira the zub dun", "xx")): _*)
    LlmOps.buildMinHashIndex(trusted, idx)
    LlmOps.buildFluencyModel(trusted, lm, byLang = true)
    LlmOps.buildFluencyModel(trusted, lmG)

    val batchFile = new java.io.File(src, "b0.parquet")
    val tmp = s"$src/_b0"
    // arriving xx doc: every transition is in the xx model (per-lang
    // fluency high), but the global model's pooled c1('the') dilutes it
    // under the 0.5 bar — plus an en control that passes either way
    langDocs(
      (200L, "the zub mira the zub mira the zub dun mira", "xx"),
      (201L, "the dog runs and the cat sleeps now", "en"))
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, batchFile.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))

    StreamingIngest.start(spark, src, idx, out, ckp,
      lmDir = Some(lm), fluencyThreshold = Some(0.5))
      .awaitTermination()
    val admitted = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(200L, 201L),
      s"the per-language bar must admit the fluent xx doc, got $admitted")

    // control: the SAME batch under the GLOBAL model drops the xx doc —
    // the dilution the per-language deployment exists to fix
    val idxG = Files.createTempDirectory("graft-sil-idx2").toString
    LlmOps.buildMinHashIndex(trusted, idxG)
    StreamingIngest.start(spark, src, idxG, outG, ckpG,
      lmDir = Some(lmG), fluencyThreshold = Some(0.5))
      .awaitTermination()
    val admittedG = spark.read.parquet(outG)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admittedG === Set(201L),
      s"the global bar must drop the diluted xx doc, got $admittedG")
    // a per-language model needs the batch's language: a source without
    // `lang` fails at start, it is never scored under a pooled bar
    val srcNoLang = Files.createTempDirectory("graft-sil-src-nolang").toString
    spark.read.parquet(src).drop("lang").write.mode("overwrite").parquet(srcNoLang)
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.start(spark, srcNoLang, idx, out, ckp,
        lmDir = Some(lm), fluencyThreshold = Some(0.5))
    }
    assert(e.getMessage.contains("`lang`"), e.getMessage)
  }

  test("ANN index rides the gate: an epoch-0 survivor's vector is probe-visible post-drain") {
    val idx = Files.createTempDirectory("graft-si3-idx").toString
    val ann = Files.createTempDirectory("graft-si3-ann").toString
    val pq = Files.createTempDirectory("graft-si3-pq").toString
    val src = Files.createTempDirectory("graft-si3-src").toString
    val out = Files.createTempDirectory("graft-si3-out").toString
    val ckp = Files.createTempDirectory("graft-si3-ckp").toString
    def docsE(rows: (Long, String, Seq[Float], Int)*) =
      rows.toDF("doc_id", "text", "embedding", "label")
    val base = docsE(
      (1L, mk("alpha"), Seq(1f, 0f), 7),
      (2L, mk("beta"), Seq(0f, 1f), 7))
    LlmOps.buildMinHashIndex(base, idx)
    LlmOps.buildAnnIndex(base, ann, idCol = "doc_id")
    // trainMod=1: the 2-doc fixture has no % 20 == 0 ids to train on
    LlmOps.buildPqIndex(base, pq, idCol = "doc_id", trainMod = 1L)
    def writeSlice(name: String, d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      val tmp = s"$src/_$name"
      d.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"$name.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(ts)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val t0 = System.currentTimeMillis() - 60000
    // epoch 0: a near-copy of base doc 1 (drops — its vector must NOT
    // reach the ANN index) + a novel doc (admitted — its vector must)
    writeSlice("s1", docsE(
      (100L, mk("alpha") + " tail27", Seq(9f, 9f), 7),
      (101L, mk("delta"), Seq(0.6f, 0.8f), 7)), t0)
    StreamingIngest.start(spark, src, idx, out, ckp,
      annIndexDir = Some(ann), pqIndexDir = Some(pq)).awaitTermination()

    // the stats gauge sees base + the one admitted vector
    val stats = LlmOps.annIndexStats(spark, ann).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats === Map(7L -> 3L), s"2 base + 1 admitted, got $stats")
    // the PQ serving index stayed in lockstep: the survivor's codes
    // landed (encoded against the frozen codebook), the dropped doc's
    // never did
    assert(spark.read.parquet(s"$pq/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 101L),
      "survivor codes appended behind the epoch commit")
    // a retrieval probe in the survivor's cell finds it at cosine 1
    val q = docsE((999L, "", Seq(0.6f, 0.8f), 7))
    val top = LlmOps.annIvfIndexed(q, ann, k = 1, idCol = "doc_id")
      .collect().map(r => (r.getLong(2), r.getDouble(4))).toSeq
    assert(top.map(_._1) === Seq(101L),
      s"the admitted survivor must be the nearest neighbor, got $top")
    assert(math.abs(top.head._2 - 1.0) < 1e-9)
  }

  test("semantic gate composes: a paraphrase (new text, near vector) drops against the stored cells") {
    val idx = Files.createTempDirectory("graft-si4-idx").toString
    val ann = Files.createTempDirectory("graft-si4-ann").toString
    val src = Files.createTempDirectory("graft-si4-src").toString
    val out = Files.createTempDirectory("graft-si4-out").toString
    val ckp = Files.createTempDirectory("graft-si4-ckp").toString
    def docsE(rows: (Long, String, Seq[Float], Int)*) =
      rows.toDF("doc_id", "text", "embedding", "label")
    val base = docsE((1L, mk("alpha"), Seq(1f, 0f), 7))
    LlmOps.buildMinHashIndex(base, idx)
    LlmOps.buildAnnIndex(base, ann, idCol = "doc_id")
    def writeSlice(name: String, d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      val tmp = s"$src/_$name"
      d.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"$name.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(ts)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val t0 = System.currentTimeMillis() - 60000
    // doc 100: text shares NO shingles with base (minhash gate passes)
    // but its vector is a paraphrase of base doc 1 (cosine ≈ 0.99995 in
    // the same cell) — only the semantic gate can drop it.
    // doc 101: novel text AND novel vector (cosine 0.6) — admitted.
    writeSlice("s1", docsE(
      (100L, mk("delta"), Seq(1f, 0.01f), 7),
      (101L, mk("omega"), Seq(0.6f, 0.8f), 7)), t0)
    // doc 200: text near-copy of the epoch-0 SURVIVOR — the minhash gate
    // still does its cross-batch job with the semantic gate composed in
    writeSlice("s2", docsE(
      (200L, mk("omega") + " tail27", Seq(0f, 1f), 7)), t0 + 30000)
    StreamingIngest.start(spark, src, idx, out, ckp,
      annIndexDir = Some(ann), semanticThreshold = Some(0.99))
      .awaitTermination()

    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(101L),
      "paraphrase and text near-copy drop; the genuinely-new doc is admitted")
    // both indexes grew by exactly the one survivor
    assert(spark.read.parquet(s"$idx/signatures").select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 101L))
    assert(LlmOps.annIndexStats(spark, ann).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(7L -> 2L))
  }

  test("crash between ANN and minhash appends converges: same-id vectors re-admit, the duplicate heals") {
    val idx = Files.createTempDirectory("graft-si5-idx").toString
    val ann = Files.createTempDirectory("graft-si5-ann").toString
    val src = Files.createTempDirectory("graft-si5-src").toString
    val out = Files.createTempDirectory("graft-si5-out").toString
    val ckp = Files.createTempDirectory("graft-si5-ckp").toString
    def docsE(rows: (Long, String, Seq[Float], Int)*) =
      rows.toDF("doc_id", "text", "embedding", "label")
    val base = docsE((1L, mk("alpha"), Seq(1f, 0f), 7))
    LlmOps.buildMinHashIndex(base, idx)
    LlmOps.buildAnnIndex(base, ann, idCol = "doc_id")
    // simulate the one crash window the batch-id exclusion exists for: a
    // previous attempt at this epoch committed the ANN append (survivor
    // 101's vector, SAME id) and died before the minhash append
    LlmOps.appendAnnIndex(docsE((101L, "", Seq(0.6f, 0.8f), 7)),
      ann, idCol = "doc_id")
    def writeSlice(name: String, d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      val tmp = s"$src/_$name"
      d.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"$name.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(ts)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    writeSlice("s1", docsE((101L, mk("omega"), Seq(0.6f, 0.8f), 7)),
      System.currentTimeMillis() - 60000)
    // the "replay": same batch, gates probe the half-appended indexes. A
    // self-cancelling semantic gate would drop 101 here and its minhash
    // rows would be missing FOREVER; the batch-id exclusion re-admits it.
    StreamingIngest.start(spark, src, idx, out, ckp,
      annIndexDir = Some(ann), semanticThreshold = Some(0.99))
      .awaitTermination()

    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(101L),
      "the replayed survivor must be re-admitted, not self-cancelled")
    // the minhash rows finally landed — the absence is healed...
    assert(spark.read.parquet(s"$idx/signatures").select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 101L))
    // ...and the ANN duplicate (the price of re-admission) compacts away
    assert(LlmOps.annIndexStats(spark, ann).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(7L -> 3L),
      "pre-crash + replayed append = a duplicate vector before compaction")
    LlmOps.compactAnnIndex(spark, ann)
    assert(LlmOps.annIndexStats(spark, ann).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(7L -> 2L),
      "compaction collapses the replayed vector")
  }

  test("ingest startup heals a rebuild crashed at the artifact parent — the stream starts and serves") {
    // A PQ REBUILD that died between its parent-level renames leaves the
    // whole artifact root missing, with .pre-compaction holding the old
    // generation. StreamingIngest.start must roll that back BEFORE its
    // first probe — a subdir-only recovery can't (the subdirs don't
    // exist until the root is restored).
    val idx = Files.createTempDirectory("graft-si7-idx").toString
    val pq = Files.createTempDirectory("graft-si7-pq").toString
    val src = Files.createTempDirectory("graft-si7-src").toString
    val out = Files.createTempDirectory("graft-si7-out").toString
    val ckp = Files.createTempDirectory("graft-si7-ckp").toString
    def docsE(rows: (Long, String, Seq[Float], Int)*) =
      rows.toDF("doc_id", "text", "embedding", "label")
    val base = docsE((1L, mk("alpha"), Seq(1f, 0f), 7))
    LlmOps.buildMinHashIndex(base, idx)
    LlmOps.buildPqIndex(base, pq, idCol = "doc_id", trainMod = 1L)
    // simulate the crashed rebuild: artifact root renamed away whole
    Files.move(java.nio.file.Paths.get(pq),
      java.nio.file.Paths.get(pq + ".pre-compaction"))
    assert(!new java.io.File(pq).exists())
    def writeSlice(name: String, d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      val tmp = s"$src/_$name"
      d.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"$name.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(ts)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    writeSlice("s1", docsE((100L, mk("delta"), Seq(0.6f, 0.8f), 7)),
      System.currentTimeMillis() - 60000)
    StreamingIngest.start(spark, src, idx, out, ckp, pqIndexDir = Some(pq))
      .awaitTermination()
    // the rolled-back artifact served the epoch: survivor admitted, its
    // codes appended to the RESTORED old generation
    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(100L))
    assert(spark.read.parquet(s"$pq/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 100L),
      "survivor codes must land in the recovered old-generation index")
    assert(!new java.io.File(pq + ".pre-compaction").exists())
    // the admitted corpus recovers too: a corpus GC that died between its
    // renames leaves `out` absent and the old corpus stepped aside; the
    // restarted loop must roll it back before committing its next epoch,
    // or the next recovery deletes every earlier epoch as a stale sibling
    Files.move(java.nio.file.Paths.get(out),
      java.nio.file.Paths.get(out + ".pre-compaction"))
    writeSlice("s2", docsE((200L, mk("omega"), Seq(0f, 1f), 7)),
      System.currentTimeMillis() - 30000)
    StreamingIngest.start(spark, src, idx, out, ckp, pqIndexDir = Some(pq))
      .awaitTermination()
    assert(LlmOps.readCorpusAsOf(spark, out, 1L).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(100L, 200L),
      "both epochs' rows must survive a corpus swap crashed before the restart")
  }

  test("crash replay with two mutually-near survivors re-admits both — no permanent minhash absence") {
    // The case same-id exclusion alone gets WRONG: docs 100 and 101 are
    // admitted together (shingle-disjoint, so the minhash gate passes
    // both; their vectors are near EACH OTHER but not near base, so the
    // batch-vs-index semantic probe sees neither). The ANN append
    // commits, the process dies before the minhash append. On replay,
    // with only same-id matches excluded, 100 would find 101's committed
    // vector and vice versa — BOTH would drop and their minhash rows
    // would be missing forever. The batch-id exclusion makes the replay
    // see exactly the attempt-1 index and re-admit both.
    val idx = Files.createTempDirectory("graft-si6-idx").toString
    val ann = Files.createTempDirectory("graft-si6-ann").toString
    val src = Files.createTempDirectory("graft-si6-src").toString
    val out = Files.createTempDirectory("graft-si6-out").toString
    val ckp = Files.createTempDirectory("graft-si6-ckp").toString
    def docsE(rows: (Long, String, Seq[Float], Int)*) =
      rows.toDF("doc_id", "text", "embedding", "label")
    val base = docsE((1L, mk("alpha"), Seq(1f, 0f), 7))
    LlmOps.buildMinHashIndex(base, idx)
    LlmOps.buildAnnIndex(base, ann, idCol = "doc_id")
    // the doomed first attempt: BOTH survivors' vectors committed
    LlmOps.appendAnnIndex(docsE(
      (100L, "", Seq(0.6f, 0.8f), 7),
      (101L, "", Seq(0.6001f, 0.7999f), 7)), ann, idCol = "doc_id")
    def writeSlice(name: String, d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      val tmp = s"$src/_$name"
      d.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"$name.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(ts)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    writeSlice("s1", docsE(
      (100L, mk("delta"), Seq(0.6f, 0.8f), 7),
      (101L, mk("omega"), Seq(0.6001f, 0.7999f), 7)),
      System.currentTimeMillis() - 60000)
    StreamingIngest.start(spark, src, idx, out, ckp,
      annIndexDir = Some(ann), semanticThreshold = Some(0.99))
      .awaitTermination()

    assert(spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(100L, 101L),
      "the replay must re-admit BOTH mutually-near survivors")
    assert(spark.read.parquet(s"$idx/signatures").select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 100L, 101L),
      "the missing minhash rows finally land")
    // the replayed ANN appends are duplicates, healed at compaction
    LlmOps.compactAnnIndex(spark, ann)
    assert(LlmOps.annIndexStats(spark, ann).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(7L -> 3L))
  }

  test("replayed epoch (crash after writes, before commit) leaves no corpus duplicates; compaction heals the index") {
    val idx = Files.createTempDirectory("graft-si2-idx").toString
    val src = Files.createTempDirectory("graft-si2-src").toString
    val out = Files.createTempDirectory("graft-si2-out").toString
    val ckp = Files.createTempDirectory("graft-si2-ckp").toString
    LlmOps.buildMinHashIndex(docs(1L -> mk("alpha")), idx)
    def writeSlice(name: String, d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
      val tmp = s"$src/_$name"
      d.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"$name.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(ts)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val t0 = System.currentTimeMillis() - 60000
    writeSlice("s1", docs(100L -> mk("delta")), t0)
    writeSlice("s2", docs(200L -> mk("omega")), t0 + 30000)

    // run 1: epoch 0 completes BOTH writes, then dies before commit
    @volatile var failedOnce = false
    val q1 = StreamingIngest.start(spark, src, idx, out, ckp,
      epochHook = { e =>
        if (e == 0 && !failedOnce) { failedOnce = true; sys.error("node lost") }
      })
    intercept[Exception] { q1.awaitTermination() }
    assert(failedOnce, "failure was injected after the epoch's writes")
    // the index already holds the doomed epoch's append — the replay
    // will append it AGAIN (at-least-once)
    val sigAfterCrash = spark.read.parquet(s"$idx/signatures").count()
    assert(sigAfterCrash === 2L, "base + the uncommitted epoch's survivor")

    // run 2: same checkpoint — epoch 0 replays, then epoch 1 runs
    StreamingIngest.start(spark, src, idx, out, ckp).awaitTermination()

    // corpus: effectively-once — every survivor exactly once
    val admitted = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toList
    assert(admitted.sorted === List(100L, 200L), s"no duplicates, got $admitted")
    // index: the replay SELF-CANCELLED — the gate saw doc 100 already in
    // the index (a doc is an exact copy of itself) and dropped the batch
    // instead of appending it twice
    val sig = spark.read.parquet(s"$idx/signatures")
    assert(sig.count() === 3L, "replayed epoch must not re-append its survivor")
    assert(sig.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 100L, 200L))

    // a PARTIAL append (the one crash point that can duplicate rows) is
    // output-harmless and compaction heals it: inject the duplicate
    // directly, gate a near-copy correctly, then compact
    LlmOps.appendMinHashIndex(docs(100L -> mk("delta")), idx)
    assert(spark.read.parquet(s"$idx/signatures").count() === 4L)
    val gate = LlmOps.incrementalDedupMinHashIndexed(
      docs(300L -> (mk("delta") + " tail27"), 400L -> mk("zeta")), idx)
      .collect().map(_.getLong(0)).toSet
    assert(gate === Set(400L), "duplicate index rows must not change the gate")
    LlmOps.compactMinHashIndex(spark, idx)
    val healed = spark.read.parquet(s"$idx/signatures")
    assert(healed.count() === 3L, "dedupRows collapsed the duplicate append")
    assert(spark.read.parquet(s"$idx/bands").count() === 3L * LlmOps.Bands)
  }
}
