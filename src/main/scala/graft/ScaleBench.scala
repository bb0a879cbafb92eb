package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Scale-up benchmark: replicate the fact tables N× (key-shifted, so join
  * cardinalities scale honestly) and measure how the headline queries'
  * wall time grows. The point is the amortization claim made since round
  * 1: the per-query floor (job submit + reader init) is constant, so at
  * N× the data the time must grow far less than N× — and the remainder
  * approaches the pure data-path cost that survives at 100 TB. Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_SCALE=10 \
  *     sbt "runMain graft.ScaleBench"
  *
  * Prints one JSON line: per-query base/scaled seconds and the ratio
  * (ratio ≪ N ⇒ floor-dominated at base SF; ratio → N ⇒ linear data
  * path, the correct asymptote for scan-bound plans).
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val out = java.nio.file.Files.createTempDirectory("graft-scale").toString

    // fact tables replicated with shifted order keys: row counts AND
    // distinct join keys scale by `factor`, dimension tables stay fixed —
    // the shape of a real SF increase.
    val keyShift = 1000000000L
    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame =
      (0 until factor).map { i =>
        keyCols.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * keyShift)))
      }.reduce(_ unionByName _)

    replicate(Tables.lineitem(spark, sfDir), Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    replicate(Tables.orders(spark, sfDir), Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    for (t <- Seq("part", "customer", "supplier", "nation", "region"))
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    // documents replicated for the dedup family. Shifting doc_id alone
    // would leave every replica's text verbatim-identical — cross-replica
    // pairs then grow with factor² and the probe measures dup-density
    // stress, not corpus scale. A per-replica lowercase rotation keeps
    // each replica's shingle space disjoint, so dup structure (and the
    // candidate-pair count) scales linearly with the corpus — the honest
    // shape of "10× more data, same dup rate".
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // the rotation has 26 distinct values: replica 26 would rotate like
    // replica 0, making their texts verbatim-identical — cross-replica
    // pairs then grow ~factor² and every dedup ratio silently measures
    // dup-density blowup instead of corpus scale. Fail loudly instead.
    require(factor <= 26,
      s"SPARK_GRAFT_SCALE=$factor > 26 breaks the disjoint-shingle rotation")
    val docs = Tables.documents(spark, sfDir)
    (0 until factor).map { i =>
      val rot = alpha.drop(i % 26) + alpha.take(i % 26)
      docs
        .withColumn("doc_id", col("doc_id") + lit(i * keyShift))
        .withColumn("text", translate(col("text"), alpha, rot))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings replicated for the ANN probes: ids shifted, a small
    // per-replica deterministic perturbation keeps replica vectors
    // distinct; the query set stays the 8 original ids, so the probe is
    // "same queries, 10× the candidates" — the honest ANN scale shape.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    (0 until factor).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * keyShift))
        .withColumn("embedding", expr(
          s"transform(embedding, (v, j) -> v + cast($i as float) * cast(0.001 as float) * cast(j % 5 - 2 as float))"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val headline = Seq("q1_agg", "q_topk_parts", "q5_nation_revenue",
      "q3_topk_orders", "q17_small_qty_revenue",
      "llm_dedup_exact", "llm_dedup_minhash",
      "llm_dedup_clusters", "llm_dedup_apply",
      "llm_dedup_spans", "llm_pack_sequences",
      "llm_dedup_incremental", "llm_dedup_inc_minhash",
      "llm_global_shuffle", "llm_domain_mix",
      "llm_bpe_pairs", "llm_ann_pq")

    def time(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sqlContext.clearCache() // dedup queries persist signature tables
      dt
    }

    // warm both paths once (codegen/classload), then measure median of 3.
    // Per-query fault isolation: a single failing query records an error
    // entry instead of losing the whole multi-probe run's measurements.
    headline.foreach { q =>
      try { time(sfDir, q); time(out, q) } catch { case _: Throwable => () }
    }
    def median3(dir: String, q: String): Double =
      (1 to 3).map(_ => time(dir, q)).sorted.apply(1)

    val rows = headline.map { q =>
      try {
        val base = median3(sfDir, q)
        val scaled = median3(out, q)
        (q, s""""$q":{"base_sec":$base,"scaled_sec":$scaled,"ratio":${scaled / base}}""")
      } catch { case e: Throwable =>
        (q, s""""$q":{"error":"${e.getClass.getSimpleName}"}""")
      }
    }

    // CC convergence probe over the REAL minhash pair frames: the
    // bench-scale cluster queries resolve driver-side (union-find fast
    // path), so their loop iteration count is vacuous by design — this
    // probe pins smallGraphMaxEdges = 0 to force the distributed fixpoint
    // over the same pair frame and publishes ITS iteration counts, the
    // figure that must stay flat as the corpus grows
    def ccIters(dir: String): Int = {
      val pairs = graft.llm.LlmOps.dedupMinHash(
        graft.llm.LlmOps.nearDupCorpus(Tables.documents(spark, dir)))
      graft.llm.LlmOps.dedupClusters(pairs, smallGraphMaxEdges = 0)
        .write.format("noop").mode("overwrite").save()
      spark.sqlContext.clearCache()
      graft.llm.LlmOps.lastClusterIterations.get()
    }
    val ccBaseIters = ccIters(sfDir)
    val ccScaledIters = ccIters(out)

    // materialized-index probe: the LSH index is built ONCE per corpus
    // size (untimed — the amortized build), the timed step is ONLY the
    // batch probe, with the batch held at base-SF size on both sides —
    // the steady-state ingest economics. A flat-ish ratio is the evidence
    // the stored index deletes the in-query variant's re-hash cost (whose
    // row above grows with the corpus).
    // the batch is materialized to parquet and read back rather than
    // persisted: the timed probes clearCache() between reps (to drop the
    // probe's own internal caches), which would silently evict a cached
    // batch too and time its re-derivation instead of the probe
    val ixBatchDir = java.nio.file.Files.createTempDirectory("graft-scale-batch").toString
    graft.llm.LlmOps.incrementalNearBatch(Tables.documents(spark, sfDir))
      .write.mode("overwrite").parquet(ixBatchDir)
    val ixBatch = spark.read.parquet(ixBatchDir)
    def incIdx(dir: String): Double = {
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-mhix").toString
      graft.llm.LlmOps.buildMinHashIndex(Tables.documents(spark, dir), ixDir)
      spark.sqlContext.clearCache()
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.incrementalDedupMinHashIndexed(ixBatch, ixDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
      med
    }
    val ixBase = incIdx(sfDir)
    val ixScaled = incIdx(out)

    // stored-payload-index gate probe — the media twin of incmh_indexed:
    // fixed media batch (parquet, immune to the clearCache), chunk table
    // rebuilt per corpus size; flatness is the (chunk_idx, ck_bucket)
    // directory pruning holding as the indexed media corpus grows
    val pyBatchDir = java.nio.file.Files.createTempDirectory("graft-scale-pybatch").toString
    graft.llm.Multimodal.payloadIngestBatch(Tables.documents(spark, sfDir))
      .write.mode("overwrite").parquet(pyBatchDir)
    val pyBatch = spark.read.parquet(pyBatchDir)
    def pyIdx(dir: String): Double = {
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-pyix").toString
      graft.llm.Multimodal.buildPayloadIndex(
        graft.llm.Multimodal.media(Tables.documents(spark, dir)), ixDir)
      spark.sqlContext.clearCache()
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.Multimodal.incrementalPayloadDedupIndexed(pyBatch, ixDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
      med
    }
    val pyBase = pyIdx(sfDir)
    val pyScaled = pyIdx(out)

    // materialized-ANN probe: the partitioned cell table is built once per
    // corpus size (untimed — amortized across the query stream), the
    // timed step is the fixed-8-query probe off the stored cells. The
    // published contrast is the same probe THROUGH THE INDEX vs the
    // in-query annIvf on the identical scaled corpus: the index skips the
    // per-row norm recompute and unprobed cells' files entirely
    // (directory-level partition pruning), which is the serving-path
    // saving a query stream collects on every call.
    // 8 query rows — collected to the driver and rebuilt as a local
    // frame, immune to the probes' clearCache() (a persist here would be
    // dead the moment the first probe cleared the cache)
    val annQ = spark.createDataFrame(
      Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8).collect().toSeq.asJava,
      Tables.embeddings(spark, sfDir).schema)
    def annIdx(dir: String): Double = {
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-annix").toString
      graft.llm.LlmOps.buildAnnIndex(Tables.embeddings(spark, dir), ixDir)
      spark.sqlContext.clearCache()
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.annIvfIndexed(annQ, ixDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
      med
    }
    val annIxBase = annIdx(sfDir)
    val annIxScaled = annIdx(out)
    def annInQuery(dir: String): Double = {
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.annIvf(Tables.embeddings(spark, dir))
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      (1 to 3).map(_ => probe()).sorted.apply(1)
    }
    val annInqScaled = annInQuery(out)

    // trained-cell IVF probe off the stored index (frozen k-means
    // centroids + cell-partitioned vectors): same serving contract as
    // ann_indexed — per-probe cost tracks the probed cells' rows; with
    // the fixture's fixed 10 cells every cell grows with the corpus
    // (the semidx caveat), so the honest expectation is ~linear here
    // and flatter at a production cell count (the km_sqrtn scenario
    // below). try/finally so a build or probe failure can't leak the
    // temp index directory.
    def kmIdx(dir: String, cells: Int = graft.llm.LlmOps.KmCells): Double = {
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-kmix").toString
      try {
        graft.llm.LlmOps.buildKmAnnIndex(Tables.embeddings(spark, dir), ixDir,
          c = cells)
        spark.sqlContext.clearCache()
        def probe(): Double = {
          val t0 = System.nanoTime()
          graft.llm.LlmOps.annIvfKmIndexed(annQ, ixDir)
            .write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.sqlContext.clearCache()
          dt
        }
        probe() // warm
        (1 to 3).map(_ => probe()).sorted.apply(1)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
    }
    val kmIxBase = kmIdx(sfDir)
    val kmIxScaled = kmIdx(out)
    // the PRODUCTION cell count: C ≈ √n per corpus (the FAISS IVF
    // convention), so cell size — and therefore per-probe scan mass —
    // grows only as √(scale factor): the honest expectation for the
    // 10× ratio here is ~√10 ≈ 3.2 against the fixed-cell scenario's
    // ~linear, and at a real 100 TB deployment the probe reads
    // nprobe·(n/√n) rows however large the corpus grows
    // clamped to the trainer's effective sample bound: Lloyd trains on
    // the trainMod id-slice capped at PqLloydTrainCap rows and can't
    // produce more centroids than training rows — without the clamp the
    // published cells_base/cells_scaled would overstate the trained
    // count for corpora where √n exceeds the sample, and the √n-scaling
    // reading of the ratio would silently break
    def sqrtCells(dir: String): Int = {
      val emb = Tables.embeddings(spark, dir)
      val req = math.max(graft.llm.LlmOps.KmCells,
        math.sqrt(emb.count().toDouble).round.toInt)
      val trainRows = emb
        .filter(col("vec_id") % graft.llm.LlmOps.PqTrainSliceMod === 0).count()
      math.min(req.toLong,
        math.min(trainRows, graft.llm.LlmOps.PqLloydTrainCap.toLong)).toInt
    }
    val kmSqCellsBase = sqrtCells(sfDir)
    val kmSqCellsScaled = sqrtCells(out)
    val kmSqBase = kmIdx(sfDir, kmSqCellsBase)
    val kmSqScaled = kmIdx(out, kmSqCellsScaled)

    // semantic-gate probe off the stored cells: fixed batch (parquet,
    // immune to the clearCache), index rebuilt per corpus size; the
    // ratio tracks probed-cell mass — at the harness's fixed 10 cells
    // every cell grows with the corpus, the honest IVF trade (value
    // compounds with cell COUNT, the 100 TB regime)
    val semBatchDir = java.nio.file.Files.createTempDirectory("graft-scale-sembatch").toString
    graft.llm.LlmOps.incrementalVecBatch(Tables.embeddings(spark, sfDir))
      .write.mode("overwrite").parquet(semBatchDir)
    val semBatch = spark.read.parquet(semBatchDir)
    def semIdx(dir: String): Double = {
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-semix").toString
      graft.llm.LlmOps.buildAnnIndex(Tables.embeddings(spark, dir), ixDir)
      spark.sqlContext.clearCache()
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.incrementalDedupCosineIndexed(semBatch, ixDir, vecCol = "e")
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
      med
    }
    val semIxBase = semIdx(sfDir)
    val semIxScaled = semIdx(out)

    // production-regime variant of the probe above: the cell count scales
    // WITH the corpus — each replica sub-divides its labels
    // (label·factor + replica), so cells go factor× while per-cell mass
    // stays constant. This is the regime the IVF trade exists for
    // (thousands of cells, a handful probed per batch): the batch's cell
    // footprint prunes to same-mass directories whatever the corpus size,
    // so a flat ratio here is the published evidence that the fixed-cell
    // probe's ∝-corpus growth above is per-cell mass (a harness axis),
    // not the gate's scaling design.
    val semBatchRc = semBatch
      .withColumn("label", (col("label") * factor).cast("int"))
    def semIdxCells(dir: String): Double = {
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-semixc").toString
      graft.llm.LlmOps.buildAnnIndex(
        Tables.embeddings(spark, dir).withColumn("label",
          (col("label") * factor +
            (col("vec_id") / keyShift).cast("int")).cast("int")), ixDir)
      spark.sqlContext.clearCache()
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.incrementalDedupCosineIndexed(semBatchRc, ixDir, vecCol = "e")
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
      med
    }
    val semCellsBase = semIdxCells(sfDir)
    val semCellsScaled = semIdxCells(out)

    // stored IVF-PQ probe: codebook+codes built per corpus size
    // (untimed), the timed step is the fixed-8-query ADC rank off the
    // pruned packed-codes scan
    def pqIdx(dir: String): Double = {
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-pqix").toString
      graft.llm.LlmOps.buildPqIndex(Tables.embeddings(spark, dir), ixDir)
      spark.sqlContext.clearCache()
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.annIvfPqIndexed(annQ, ixDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
      med
    }
    val pqIxBase = pqIdx(sfDir)
    val pqIxScaled = pqIdx(out)

    // stored-LM fluency probe: the model is built untimed per corpus
    // size, the timed step scores the FIXED base-SF batch against it.
    // NOTE the axis: this scales the MODEL — the one artifact that does
    // NOT grow with ingest in production (the reference LM is frozen per
    // generation; its size is the minCount curation dial) — so the
    // published ratio characterizes probe-cost-vs-model-size. A natural-
    // text batch's bucket footprint covers most of the 64 wb directories,
    // so the pruned scan tracks the table and the ratio may approach the
    // factor; the production-regime axis (batch volume at a fixed frozen
    // model) is what the per-query bench medians measure every round.
    def lmProbe(dir: String): Double = {
      val mDir = java.nio.file.Files.createTempDirectory("graft-scale-lm").toString
      graft.llm.LlmOps.buildFluencyModel(Tables.documents(spark, dir), mDir)
      spark.sqlContext.clearCache()
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.fluencyStored(ixBatch, mDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(mDir))
      med
    }
    val lmBase = lmProbe(sfDir)
    val lmScaled = lmProbe(out)

    // stored-IDF keyword probe: same axis as lm_stored (the MODEL scales,
    // the batch is fixed) — the ratio characterizes probe cost vs
    // vocabulary size. The batch's token-bucket footprint pins the df
    // scan's partition filter, and the batch side broadcasts, so the
    // timed step should track the PRUNED bucket subset, not the table.
    def idfProbe(dir: String): Double = {
      val mDir = java.nio.file.Files.createTempDirectory("graft-scale-idf").toString
      graft.llm.LlmOps.buildIdfModel(Tables.documents(spark, dir), mDir)
      spark.sqlContext.clearCache()
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.keywordsStored(ixBatch, mDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(mDir))
      med
    }
    val idfBase = idfProbe(sfDir)
    val idfScaled = idfProbe(out)

    // stored quality-classifier probe: same axis as lm_stored/idf_stored
    // (the trained weight table scales with the training corpus'
    // vocabulary, the scored batch is fixed) — the batch's token-bucket
    // footprint pins the weight scan's partition filter and the batch
    // side broadcasts, so the timed step should track the pruned bucket
    // subset, not the training corpus.
    def qclfProbe(dir: String): Double = {
      val mDir = java.nio.file.Files.createTempDirectory("graft-scale-qclf").toString
      graft.llm.LlmOps.buildQualityClassifier(
        graft.llm.LlmOps.qclfCorpus(Tables.documents(spark, dir)), mDir)
      spark.sqlContext.clearCache()
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.qualityScoreStored(ixBatch, mDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(mDir))
      med
    }
    val qclfBase = qclfProbe(sfDir)
    val qclfScaled = qclfProbe(out)

    // PER-LANGUAGE stored-LM probe — the flatness axis the language
    // keying exists for: the model corpus is a FIXED language-"aa" slice
    // (the batch's language) unioned with a language-"bb" corpus that
    // scales with `dir`; the scored batch stays language-"aa" and
    // base-SF-sized on both sides. Because the probe's (lang, wb)
    // footprint prunes the model scan to the batch's OWN language, the
    // scaled language's directories are never opened and the ratio must
    // sit near 1 — the directly-measured form of "a Swahili batch never
    // pays for the English model".
    val langBatchDir = java.nio.file.Files.createTempDirectory("graft-scale-langb").toString
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"), lit("aa").as("lang"))
      .write.mode("overwrite").parquet(langBatchDir)
    val langBatch = spark.read.parquet(langBatchDir)
    def lmLangProbe(dir: String): Double = {
      val mDir = java.nio.file.Files.createTempDirectory("graft-scale-lmlang").toString
      val modelCorpus = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), lit("aa").as("lang"))
        .unionByName(Tables.documents(spark, dir)
          .select((col("doc_id") + 800000000L).as("doc_id"), col("text"),
            lit("bb").as("lang")))
      graft.llm.LlmOps.buildFluencyModel(modelCorpus, mDir, byLang = true)
      spark.sqlContext.clearCache()
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.fluencyStored(langBatch, mDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(mDir))
      med
    }
    val lmLangBase = lmLangProbe(sfDir)
    val lmLangScaled = lmLangProbe(out)

    // delta-curation probe: the nightly incremental run with the CHURN
    // HELD FIXED (base-SF-sized arrivals) while the base corpus scales —
    // the steady-state economics of a growing corpus with a steady crawl
    // rate. All gate work tracks the churn; the one corpus-linear stage
    // is the single narrow (doc_id, md5) fingerprint scan of the old
    // generation, so the ratio must sit far below the corpus factor but
    // will not be flat — the published number separates the hash-scan
    // floor from the churn-proportional gates.
    def curDelta(dir: String): Double = {
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-curdx").toString
      graft.llm.LlmOps.buildMinHashIndex(Tables.documents(spark, dir), ixDir)
      spark.sqlContext.clearCache()
      val old = Tables.documents(spark, dir)
      // fixed churn: drifted re-crawls of the ORIGINAL replica's slice
      // (ids < keyShift exist at every factor), arriving under new ids
      val next = old.select(col("doc_id"), col("text")).unionByName(
        old.filter(col("doc_id") < keyShift && col("doc_id") % 17 === 0)
          .select((col("doc_id") + 90000000L).as("doc_id"),
            concat(col("text"), lit(" drift")).as("text")))
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.curateDelta(old, next, ixDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
      med
    }
    val curDeltaBase = curDelta(sfDir)
    val curDeltaScaled = curDelta(out)

    // the composed nightly: delta curation + the stored-LM bar. Same
    // fixed-churn regime, and the reference model is GENERATION-FROZEN
    // (built once per corpus drop, the rebuild-only LM lifecycle) — so
    // the probe's added cost must track the churn's bigram footprint,
    // never the scaled corpus: the model scan is bucket-pruned and the
    // LM chain rides the same final job as the near probe. The invariant
    // published here is the nightly-cost story for the full pipeline.
    def curDeltaLm(dir: String): Double = {
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-cdlx").toString
      val lmDir = java.nio.file.Files.createTempDirectory("graft-scale-cdlm").toString
      graft.llm.LlmOps.buildMinHashIndex(Tables.documents(spark, dir), ixDir)
      graft.llm.LlmOps.buildFluencyModel(Tables.documents(spark, dir), lmDir)
      spark.sqlContext.clearCache()
      val old = Tables.documents(spark, dir)
      val next = old.select(col("doc_id"), col("text")).unionByName(
        old.filter(col("doc_id") < keyShift && col("doc_id") % 17 === 0)
          .select((col("doc_id") + 90000000L).as("doc_id"),
            concat(col("text"), lit(" drift")).as("text")))
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.curateDelta(old, next, ixDir, lmDir = Some(lmDir))
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(lmDir))
      med
    }
    val curDeltaLmBase = curDeltaLm(sfDir)
    val curDeltaLmScaled = curDeltaLm(out)

    // the nightly with the TRAINED-CLASSIFIER gate (the three-surface
    // parity option) under the same fixed-churn regime: the scorer runs
    // footprint-less over the pinned churn cache and its id frame
    // materializes inside the fused barrier — the gate's cost must
    // track the churn's tokens plus the frozen weight-table scan, never
    // the corpus the model was trained on, so the ratio belongs in the
    // curdelta/curdelta_lm band.
    def curDeltaClf(dir: String): Double = {
      // try/finally so a build or probe failure can't leak either temp
      // dir — the kmIdx discipline
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-cdcx").toString
      val qcDir = java.nio.file.Files.createTempDirectory("graft-scale-cdcq").toString
      try {
        graft.llm.LlmOps.buildMinHashIndex(Tables.documents(spark, dir), ixDir)
        graft.llm.LlmOps.buildQualityClassifier(
          graft.llm.LlmOps.qclfCorpus(Tables.documents(spark, dir)), qcDir)
        spark.sqlContext.clearCache()
        val old = Tables.documents(spark, dir)
        val next = old.select(col("doc_id"), col("text")).unionByName(
          old.filter(col("doc_id") < keyShift && col("doc_id") % 17 === 0)
            .select((col("doc_id") + 90000000L).as("doc_id"),
              concat(col("text"), lit(" drift")).as("text")))
        def probe(): Double = {
          val t0 = System.nanoTime()
          graft.llm.LlmOps.curateDelta(old, next, ixDir,
              qualityModelDir = Some(qcDir))
            .write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.sqlContext.clearCache()
          dt
        }
        probe() // warm
        (1 to 3).map(_ => probe()).sorted.apply(1)
      } finally Seq(ixDir, qcDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
    val curDeltaClfBase = curDeltaClf(sfDir)
    val curDeltaClfScaled = curDeltaClf(out)

    // the EVERY-GATE nightly (quality + benchmark decontam + exact +
    // stored-index near + stored-LM bar) under the same fixed-churn
    // regime — the composed nightly's cost invariant: every gate's work
    // must track the churn (the gram artifact is eval-suite-bounded, the
    // model generation-frozen, the index probe footprint-pruned), so the
    // published ratio should stay near the curdelta/curdelta_lm band
    // even with all five gates on.
    def curDeltaFull(dir: String): Double = {
      val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-cdfx").toString
      val lmDir = java.nio.file.Files.createTempDirectory("graft-scale-cdfm").toString
      val dcDir = java.nio.file.Files.createTempDirectory("graft-scale-cdfd").toString
      graft.llm.LlmOps.buildMinHashIndex(Tables.documents(spark, dir), ixDir)
      graft.llm.LlmOps.buildFluencyModel(Tables.documents(spark, dir), lmDir)
      graft.llm.LlmOps.buildDecontamIndex(
        Tables.documents(spark, dir).filter(expr(
          s"${graft.llm.LlmOps.h56("concat('split|', cast(doc_id as string))")} % 100") >= 95),
        dcDir)
      spark.sqlContext.clearCache()
      val old = Tables.documents(spark, dir)
      val next = old.select(col("doc_id"), col("text")).unionByName(
        old.filter(col("doc_id") < keyShift && col("doc_id") % 17 === 0)
          .select((col("doc_id") + 90000000L).as("doc_id"),
            concat(col("text"), lit(" drift")).as("text")))
      def probe(): Double = {
        val t0 = System.nanoTime()
        graft.llm.LlmOps.curateDelta(old, next, ixDir, lmDir = Some(lmDir),
            decontamDir = Some(dcDir), maxSharedGrams = 5L)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        dt
      }
      probe() // warm
      val med = (1 to 3).map(_ => probe()).sorted.apply(1)
      Seq(ixDir, lmDir, dcDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
      med
    }
    val curDeltaFullBase = curDeltaFull(sfDir)
    val curDeltaFullScaled = curDeltaFull(out)

    // the nightly's TERMINAL COMMIT under the same fixed-churn regime:
    // curateDeltaApply = the delta chain plus one survivor write (epoch
    // dynamic overwrite) + one index append + the commit's compaction.
    // Cost must track churn + survivors, never the corpus — the write
    // touches only the new epoch directory, the append adds files ∝
    // survivors, and compaction folds the one fresh epoch's append.
    // Fresh fixture dirs per rep (a commit MUTATES its index/corpus, so
    // a replayed rep would measure the marker no-op instead).
    def curDeltaApply(dir: String): Double = {
      val old = Tables.documents(spark, dir)
      val next = old.select(col("doc_id"), col("text")).unionByName(
        old.filter(col("doc_id") < keyShift && col("doc_id") % 17 === 0)
          .select((col("doc_id") + 90000000L).as("doc_id"),
            concat(col("text"), lit(" drift")).as("text")))
      def probe(): Double = {
        val ixDir = java.nio.file.Files.createTempDirectory("graft-scale-cdax").toString
        val cDir = java.nio.file.Files.createTempDirectory("graft-scale-cdac").toString
        graft.llm.LlmOps.buildMinHashIndex(Tables.documents(spark, dir), ixDir)
        spark.sqlContext.clearCache()
        val t0 = System.nanoTime()
        graft.llm.LlmOps.curateDeltaApply(old, next, s"$cDir/corpus",
          ixDir, epoch = 1L)
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cDir))
        dt
      }
      probe() // warm
      (1 to 3).map(_ => probe()).sorted.apply(1)
    }
    val curDeltaApplyBase = curDeltaApply(sfDir)
    val curDeltaApplyScaled = curDeltaApply(out)

    // hot-token probe for tokenFreqScore: every doc prefixed with 30
    // repeats of one stop word — the shape where a per-occurrence freq
    // join funnels the whole corpus through one shuffle bucket; the
    // (doc_id, tok, tf)-granularity join must stay near-linear instead
    def tokHot(dir: String): Double = {
      val d = Tables.documents(spark, dir).select(col("doc_id"),
        concat_ws(" ", flatten(array(array_repeat(lit("the"), 30),
          split(col("text"), " ")))).as("text"))
      val t0 = System.nanoTime()
      graft.llm.LlmOps.tokenFreqScore(d)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sqlContext.clearCache()
      dt
    }
    tokHot(sfDir); tokHot(out) // warm
    val tokBase = (1 to 3).map(_ => tokHot(sfDir)).sorted.apply(1)
    val tokScaled = (1 to 3).map(_ => tokHot(out)).sorted.apply(1)

    // BPE flatness probe at a real vocab size: 128 merges on the base
    // corpus, publishing first-16 vs last-16 mean round time. Flat tail
    // (ratio ≈ 1) is the published evidence the checkpoint cadence keeps
    // per-round cost constant as the merge count grows — the axis real
    // tokenizer training stresses.
    val bpeT0 = System.nanoTime()
    graft.llm.LlmOps.bpeTrain(Tables.documents(spark, sfDir), nMerges = 128)
    val bpeSec = (System.nanoTime() - bpeT0) / 1e9
    val bpeRounds = graft.llm.LlmOps.lastBpeRoundSecs.get()
    val bpeHead = bpeRounds.take(16)
    val bpeTail = bpeRounds.takeRight(16)
    val bpeFlat =
      if (bpeHead.nonEmpty && bpeTail.nonEmpty)
        (bpeTail.sum / bpeTail.size) / (bpeHead.sum / bpeHead.size)
      else Double.NaN
    spark.sqlContext.clearCache()
    // adversarial sampler-skew probe: the replicated corpus collapsed onto
    // THREE domains (the few-huge-domains shape that hot-spots a rank
    // window), sampled via domainMix's bounded-heap path at base and
    // scaled size. A flat-ish ratio is the published evidence that the
    // MinKAgg swap removed the single-partition funnel: with the window
    // path, 10× the corpus lands 10× the rows on 3 partitions.
    def skew3(dir: String): Double = {
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"),
          concat(lit("src"), (col("doc_id") % 3 + 1).cast("string")).as("source"))
      val t0 = System.nanoTime()
      graft.llm.LlmOps.domainMix(d)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sqlContext.clearCache()
      dt
    }
    skew3(sfDir); skew3(out) // warm
    val skewBase = (1 to 3).map(_ => skew3(sfDir)).sorted.apply(1)
    val skewScaled = (1 to 3).map(_ => skew3(out)).sorted.apply(1)

    // adversarial CC probe: a 1000-node path component (diameter 999) —
    // the worst case for min-label propagation. With the pointer-jump
    // engaged the loop must close in O(log d) rounds; publish the measured
    // count so a regression to O(d) is visible in the artifact.
    import spark.implicits._
    val chainT0 = System.nanoTime()
    // smallGraphMaxEdges = 0 forces the distributed loop: this probe
    // exists to measure ITS convergence (the production default would
    // resolve 999 edges driver-side and measure nothing)
    graft.llm.LlmOps.dedupClusters(
        (1L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b"),
        smallGraphMaxEdges = 0)
      .write.format("noop").mode("overwrite").save()
    val chainSec = (System.nanoTime() - chainT0) / 1e9
    val chainIters = graft.llm.LlmOps.lastClusterIterations.get()

    val qs = rows.map(_._2).mkString("{", ",", "}")
    // the artifact twin of the stdout line: committed per round as
    // scalebench_detail.json so the 10× ratios that anchor every scale
    // claim diff mechanically across rounds instead of being transcribed
    // from a console capture into SURVEY prose
    val scaleLine = s"""{"metric":"scaleup","factor":$factor,"sf":"$sfDir","queries":$qs,"chain1k_iters":$chainIters,"chain1k_sec":$chainSec,"cc_minhash_iters":{"base":$ccBaseIters,"scaled":$ccScaledIters},"incmh_indexed":{"base_sec":$ixBase,"scaled_sec":$ixScaled,"ratio":${ixScaled / ixBase}},"payload_indexed":{"base_sec":$pyBase,"scaled_sec":$pyScaled,"ratio":${pyScaled / pyBase}},"ann_indexed":{"base_sec":$annIxBase,"scaled_sec":$annIxScaled,"ratio":${annIxScaled / annIxBase},"inquery_scaled_sec":$annInqScaled},"km_indexed":{"base_sec":$kmIxBase,"scaled_sec":$kmIxScaled,"ratio":${kmIxScaled / kmIxBase}},"km_sqrtn":{"base_sec":$kmSqBase,"scaled_sec":$kmSqScaled,"ratio":${kmSqScaled / kmSqBase},"cells_base":$kmSqCellsBase,"cells_scaled":$kmSqCellsScaled},"semidx":{"base_sec":$semIxBase,"scaled_sec":$semIxScaled,"ratio":${semIxScaled / semIxBase}},"semidx_cells":{"base_sec":$semCellsBase,"scaled_sec":$semCellsScaled,"ratio":${semCellsScaled / semCellsBase}},"pq_indexed":{"base_sec":$pqIxBase,"scaled_sec":$pqIxScaled,"ratio":${pqIxScaled / pqIxBase}},"lm_stored":{"base_sec":$lmBase,"scaled_sec":$lmScaled,"ratio":${lmScaled / lmBase}},"idf_stored":{"base_sec":$idfBase,"scaled_sec":$idfScaled,"ratio":${idfScaled / idfBase}},"qclf_stored":{"base_sec":$qclfBase,"scaled_sec":$qclfScaled,"ratio":${qclfScaled / qclfBase}},"curdelta":{"base_sec":$curDeltaBase,"scaled_sec":$curDeltaScaled,"ratio":${curDeltaScaled / curDeltaBase}},"curdelta_lm":{"base_sec":$curDeltaLmBase,"scaled_sec":$curDeltaLmScaled,"ratio":${curDeltaLmScaled / curDeltaLmBase}},"curdelta_clf":{"base_sec":$curDeltaClfBase,"scaled_sec":$curDeltaClfScaled,"ratio":${curDeltaClfScaled / curDeltaClfBase}},"curdelta_full":{"base_sec":$curDeltaFullBase,"scaled_sec":$curDeltaFullScaled,"ratio":${curDeltaFullScaled / curDeltaFullBase}},"curdelta_apply":{"base_sec":$curDeltaApplyBase,"scaled_sec":$curDeltaApplyScaled,"ratio":${curDeltaApplyScaled / curDeltaApplyBase}},"lmlang_stored":{"base_sec":$lmLangBase,"scaled_sec":$lmLangScaled,"ratio":${lmLangScaled / lmLangBase}},"tokfreq_hot":{"base_sec":$tokBase,"scaled_sec":$tokScaled,"ratio":${tokScaled / tokBase}},"bpe128":{"total_sec":$bpeSec,"rounds":${bpeRounds.size},"head16_mean":${if (bpeHead.nonEmpty) bpeHead.sum / bpeHead.size else 0.0},"tail16_mean":${if (bpeTail.nonEmpty) bpeTail.sum / bpeTail.size else 0.0},"tail_over_head":$bpeFlat},"domainmix_skew3":{"base_sec":$skewBase,"scaled_sec":$skewScaled,"ratio":${skewScaled / skewBase}}}"""
    println(scaleLine)
    try {
      val p = java.nio.file.Paths.get(
        sys.props.getOrElse("user.dir", "."), "scalebench_detail.json")
      java.nio.file.Files.write(p, scaleLine.getBytes("UTF-8")); ()
    } catch { case _: Throwable => () }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixBatchDir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(semBatchDir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(langBatchDir))
    // the replicated corpus is multi-GB at factor 10 — repeated runs would
    // otherwise fill /tmp until the host errors on disk space
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    spark.stop()
  }
}
