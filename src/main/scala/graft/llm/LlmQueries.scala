package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** LLM-pipeline query registry + DuckDB oracle SQL. Each oracle mirrors the
  * Spark formula construct-for-construct (same hash derivation, same
  * ordered FP folds) — see [[LlmOps]] for the cross-engine determinism
  * rules. The BPE trio's merge loop is outside static SQL → rows-only;
  * everything else, the byte-level media decode included, is oracled.
  */
object LlmQueries {
  import LlmOps.{h56Duck, ExactCorpusSql, NearCorpusSql, NumHashes, Bands, SimHashBits}

  /** Built-index memo for the *_idx harness queries, keyed by (kind, SF
    * dir): an index is built ONCE per corpus generation and probed
    * forever after — that IS the operator's contract, so the harness
    * caches the built artifact per JVM instead of rebuilding on every
    * invocation. First call pays the build; bench medians and repeat
    * verifies then measure the steady-state probe, which is the number a
    * production query stream sees. Correctness is unaffected (the stored
    * tables are deterministic in the corpus).
    */
  // ConcurrentHashMap.computeIfAbsent, NOT TrieMap.getOrElseUpdate: the
  // latter may evaluate the builder more than once under contention, and
  // Verify's 4-way pool routinely races several index-backed queries —
  // duplicate full index builds would eat the pool's wall-time win and
  // litter loser temp dirs. computeIfAbsent runs the builder exactly once
  // and blocks the racers on the result.
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def memo(key: String)(build: => String): String =
    indexCache.computeIfAbsent(key, _ => build)

  /** Cheap corpus fingerprint (file paths + sizes + mtimes) folded into
    * the memo key, so a harness that REGENERATES the parquet under the
    * same directory in one JVM (a scale run rewriting a scaled dir) gets
    * a fresh index instead of probing a stale one.
    */
  private def fingerprint(d: String, table: String): String =
    LlmOps.fileFingerprint(s"$d/$table.parquet").toString

  /** Temp index dir, registered for recursive cleanup at JVM exit (a
    * superseded generation — fingerprint changed — also stays until exit;
    * bounded by the number of corpus regenerations in one process).
    */
  private def tempIndexDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit))
    p.toString
  }

  /** The stored MinHash LSH index for `d`'s documents (shared by the
    * indexed ingest gate and the index-stats gauge).
    */
  private def mhIndexDir(s: SparkSession, d: String): String =
    memo(s"mh|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-mh-index")
      LlmOps.buildMinHashIndex(Tables.documents(s, d), dir)
      dir
    }

  /** The stored ANN cell table for `d`'s embeddings. */
  private def annIndexDir(s: SparkSession, d: String): String =
    memo(s"ann|$d|${fingerprint(d, "embeddings")}") {
      val dir = tempIndexDir("graft-ann-index")
      LlmOps.buildAnnIndex(Tables.embeddings(s, d), dir)
      dir
    }

  /** The stored IVF-PQ index (frozen codebook + cell-partitioned codes)
    * for `d`'s embeddings.
    */
  private def pqIndexDir(s: SparkSession, d: String): String =
    memo(s"pq|$d|${fingerprint(d, "embeddings")}") {
      val dir = tempIndexDir("graft-pq-index")
      LlmOps.buildPqIndex(Tables.embeddings(s, d), dir)
      dir
    }

  /** The stored trained-cell IVF index (frozen k-means centroids +
    * cell-partitioned vectors) for `d`'s embeddings.
    */
  private def kmIndexDir(s: SparkSession, d: String): String =
    memo(s"km|$d|${fingerprint(d, "embeddings")}") {
      val dir = tempIndexDir("graft-km-index")
      LlmOps.buildKmAnnIndex(Tables.embeddings(s, d), dir)
      dir
    }

  /** The stored BPE tokenizer (rank-ordered merge table) trained on the
    * 5% doc_id slice — the same sample-train regime as `llm_bpe_apply`,
    * so the stored-vs-inline equivalence is exact.
    */
  private def bpeTokenizerDir(s: SparkSession, d: String): String =
    memo(s"bpe|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-bpe-tok")
      LlmOps.buildBpeTokenizer(
        Tables.documents(s, d).filter(col("doc_id") % 20 === 0), dir)
      dir
    }

  /** The stored ANN cell table over the BASE slice (vec_id < 400) — the
    * "already-ingested corpus" the semantic ingest gate probes; the
    * remaining vec_ids play the arriving batch.
    */
  private def semAnnIndexDir(s: SparkSession, d: String): String =
    memo(s"semann|$d|${fingerprint(d, "embeddings")}") {
      val dir = tempIndexDir("graft-semann-index")
      LlmOps.buildAnnIndex(Tables.embeddings(s, d).filter(col("vec_id") < 400L), dir)
      dir
    }

  /** The stored bigram LM ([[LlmOps.buildFluencyModel]], unpruned) over
    * `d`'s documents — scored by the stored fluency probe and read by the
    * LM health gauge. Built on the FULL corpus so the stored probe of the
    * same corpus is bit-identical to the in-query form and the two share
    * one oracle.
    */
  private[graft] def lmDir(s: SparkSession, d: String): String =
    memo(s"lm|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-lm")
      LlmOps.buildFluencyModel(Tables.documents(s, d), dir)
      dir
    }

  /** The stored CCNet partitioner cuts ([[LlmOps.buildLmPartitioner]])
    * calibrated on the %10 slice against [[lmDir]]'s model — the frozen
    * tercile thresholds `llm_lm_partition` applies statelessly.
    */
  private def lmCutsDir(s: SparkSession, d: String): String =
    memo(s"lmcuts|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-lm-cuts")
      LlmOps.buildLmPartitioner(Tables.documents(s, d), lmDir(s, d), dir)
      dir
    }

  /** The stored IDF model ([[LlmOps.buildIdfModel]]) over `d`'s documents
    * — probed by the stored keyword scorer and read by the IDF health
    * gauge. Built on the FULL corpus (the [[lmDir]] convention) so the
    * stored probe of a slice is bit-identical to the in-query scorer
    * restricted to that slice.
    */
  private def idfDir(s: SparkSession, d: String): String =
    memo(s"idf|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-idf")
      LlmOps.buildIdfModel(Tables.documents(s, d), dir)
      dir
    }

  /** The PER-LANGUAGE stored IDF ([[LlmOps.buildIdfModelByLang]]) over
    * `d`'s documents — probed by the per-language keyword scorer and
    * read by its health gauge. Built on the FULL corpus (the [[lmDir]]
    * convention) so the stored probe of a slice is bit-identical to the
    * same arithmetic restricted to the slice.
    */
  private def idfLangDir(s: SparkSession, d: String): String =
    memo(s"idflang|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-idf-lang")
      LlmOps.buildIdfModelByLang(Tables.documents(s, d), dir)
      dir
    }

  /** The stored quality classifier ([[LlmOps.buildQualityClassifier]])
    * trained on the junk-injected fixture corpus
    * ([[LlmOps.qclfCorpus]] — both label classes populated) against the
    * heuristic gate's labels — probed by the stored scorer and read by
    * the classifier health gauge. The probe's clean %10 slice is a
    * subset of the training corpus (the [[lmDir]] convention), so the
    * stored probe is bit-identical to the in-query
    * [[LlmOps.qualityClassify]] restricted to that slice.
    */
  private[graft] def qclfDir(s: SparkSession, d: String): String =
    memo(s"qclf|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-qclf")
      LlmOps.buildQualityClassifier(
        LlmOps.qclfCorpus(Tables.documents(s, d)), dir)
      dir
    }

  /** The PER-LANGUAGE trained quality classifier over the lang-carrying
    * label fixture — probed by the per-language classifier query.
    */
  private def qclfLangDir(s: SparkSession, d: String): String =
    memo(s"qclflang|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-qclf-lang")
      LlmOps.buildQualityClassifierByLang(
        LlmOps.qclfCorpusLang(Tables.documents(s, d)), dir)
      dir
    }

  /** The PER-LANGUAGE stored LM family: one bigram model per language
    * (`lm/`, partitioned (lang, wb)) plus the per-language frozen
    * tercile cuts (`pt/cuts`), both over `d`'s documents — probed by
    * the per-language fluency and partition queries.
    */
  private def lmLangDir(s: SparkSession, d: String): String =
    memo(s"lmlang|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-lm-lang")
      val docs = Tables.documents(s, d)
      LlmOps.buildFluencyModelByLang(docs, s"$dir/lm")
      LlmOps.buildLmPartitionerByLang(docs, s"$dir/lm", s"$dir/pt")
      dir
    }

  /** A stored LSH index built over the BASE documents generation, then
    * PRUNED to the next crawl snapshot — the detect→repair lifecycle
    * under audit: the base build leaves the %11 removals as orphans,
    * [[LlmOps.pruneMinHashIndexTo]] drops them, and the registered query
    * audits the repaired artifact (a clean audit has NO orphaned row).
    * Its own dir (never the shared [[mhIndexDir]]): the prune MUTATES
    * the artifact, and the coverage/gate queries must keep seeing the
    * unpruned generation.
    */
  private def mhPrunedDir(s: SparkSession, d: String): String =
    memo(s"mhprune|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-mh-pruned")
      val docs = Tables.documents(s, d)
      LlmOps.buildMinHashIndex(docs, dir)
      LlmOps.pruneMinHashIndexTo(LlmOps.snapshotNext(docs), dir)
      dir
    }

  /** [[mhPrunedDir]]'s embedding-side twin: ANN cell and PQ code tables
    * built over the base vectors, pruned to the next vector generation.
    */
  private def vecPrunedDir(s: SparkSession, d: String): String =
    memo(s"vecprune|$d|${fingerprint(d, "embeddings")}") {
      val dir = tempIndexDir("graft-vec-pruned")
      val emb = Tables.embeddings(s, d)
      LlmOps.buildAnnIndex(emb, s"$dir/ann")
      LlmOps.buildPqIndex(emb, s"$dir/pq")
      val cur = LlmOps.vecSnapshotNext(emb)
      LlmOps.pruneAnnIndexTo(cur, s"$dir/ann")
      LlmOps.prunePqIndexTo(cur, s"$dir/pq")
      dir
    }

  /** A stored (epoch-partitioned, the [[graft.llm.StreamingIngest]] sink
    * layout) corpus materialized from the base documents, then GC'd
    * against the next crawl snapshot via
    * [[LlmOps.applyCorpusRemovals]] — the %11 removals' rows deleted,
    * everything else (changed docs included — removal is id-level)
    * byte-identical.
    */
  /** An epoch-partitioned stored corpus (epoch = doc_id % 4, the
    * [[StreamingIngest]] sink layout) — read back by the as-of query.
    * Pre-GC (no removals) so the oracle restates it directly from
    * `documents`.
    */
  private def epochCorpusDir(s: SparkSession, d: String): String =
    memo(s"epochs|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-corpus-epochs")
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(4L)).as("epoch"))
        .repartition(col("epoch"))
        .write.mode("overwrite").partitionBy("epoch").parquet(s"$dir/corpus")
      dir
    }

  private def gcCorpusDir(s: SparkSession, d: String): String =
    memo(s"gc|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-corpus-gc")
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(4L)).as("epoch"))
        .repartition(col("epoch"))
        .write.mode("overwrite").partitionBy("epoch").parquet(s"$dir/corpus")
      LlmOps.applyCorpusRemovals(s, s"$dir/corpus", LlmOps.snapshotNext(docs))
      dir
    }

  /** The nightly delta's terminal-commit fixture: a stored LSH index over
    * the base generation plus an epoch-partitioned corpus dir, then
    * [[LlmOps.curateDeltaApply]] with EVERY gate on (the
    * `llm_curate_delta_full` configuration) commits the snapshotCurate
    * churn's survivors as epoch 1 and appends their signatures to the
    * index. The registered query audits the committed partition —
    * count-AND-content parity with the delta report's final stage.
    * Its own index dir (never the shared [[mhIndexDir]]): the apply
    * MUTATES the artifact.
    */
  private def deltaAppliedDir(s: SparkSession, d: String): String =
    memo(s"deltaapply|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-delta-apply")
      val docs = Tables.documents(s, d)
      LlmOps.buildMinHashIndex(docs, s"$dir/ix")
      LlmOps.curateDeltaApply(docs, LlmOps.snapshotCurate(docs),
        s"$dir/corpus", s"$dir/ix", epoch = 1L,
        lmDir = Some(lmDir(s, d)), fluencyThreshold = DeltaApplyBar,
        decontamDir = Some(decontamIndexDir(s, d)), maxSharedGrams = 5L)
      dir
    }

  /** The apply fixture's LM bar — deliberately LOWER than
    * `llm_curate_delta_full`'s 0.0333: the harness fluency scores sit in
    * [0.029, 0.037] and drift down with corpus size (richer vocabulary →
    * smaller per-transition mass), so 0.0333 admits nothing at sf0.1 and
    * a zero-row committed partition can't audit content parity. 0.031
    * keeps the gate discriminative at every harness SF (drops 3/1/24 of
    * the near-kept at sf0.001/0.01/0.1, keeps 58/56/21).
    */
  private val DeltaApplyBar = 0.031

  /** Query-batch bounds shared between the ANN registrations and their
    * oracle CTE builders — the Scala operator call and the DuckDB chain
    * read the SAME constant, so a bound change on one side can never
    * silently diverge the oracle (it shows up as a compile-visible
    * constant, not a literal drifting in one place). `IdxNq` is the
    * stored-probe batch (the `vec_id < 8` serving-probe convention),
    * `RecallNq` the recall gauges' bounded truth-side query set.
    */
  private val IdxNq = 8
  private val RecallNq = 64

  /** The stored benchmark-gram decontamination artifact: the harness
    * "evaluation suite" is the ≥95 split-bucket slice of documents (the
    * same deterministic split [[LlmOps.decontaminate]] uses), frozen
    * into a distinct gram-hash table probed by the training-side gate.
    */
  private[graft] def decontamIndexDir(s: SparkSession, d: String): String =
    memo(s"decontam|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-decontam-index")
      val docs = Tables.documents(s, d)
      LlmOps.buildDecontamIndex(docs.filter(
        expr(s"${LlmOps.h56("concat('split|', cast(doc_id as string))")} % 100") >= 95), dir)
      dir
    }

  /** The stored payload-simhash index over `d`'s media corpus (probed by
    * the media ingest gate, read by the stats gauge and coverage audit).
    */
  private def payIndexDir(s: SparkSession, d: String): String =
    memo(s"pay|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-pay-index")
      Multimodal.buildPayloadIndex(Multimodal.media(Tables.documents(s, d)), dir)
      dir
    }

  /** An epoch-partitioned stored MEDIA corpus (epoch = doc_id % 4, the
    * [[graft.llm.StreamingMediaIngest]] sink layout) — read back by the
    * media as-of query.
    */
  private def mediaEpochDir(s: SparkSession, d: String): String =
    memo(s"mediaepochs|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-media-epochs")
      Multimodal.media(Tables.documents(s, d))
        .select(col("doc_id"), col("payload"),
          pmod(col("doc_id"), lit(4L)).as("epoch"))
        .repartition(col("epoch"))
        .write.mode("overwrite").partitionBy("epoch").parquet(s"$dir/media")
      dir
    }

  /** The media GC fixture: the epoch-partitioned media corpus + a stored
    * payload index, GC'd against the next media generation via
    * [[Multimodal.mediaGc]] — the %11 takedowns' rows deleted from the
    * corpus AND their chunk rows pruned from the index in one chained
    * maintenance pass.
    */
  private def mediaGcDir(s: SparkSession, d: String): String =
    memo(s"mediagc|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-media-gc")
      val docs = Tables.documents(s, d)
      val m = Multimodal.media(docs)
      m.select(col("doc_id"), col("payload"),
          pmod(col("doc_id"), lit(4L)).as("epoch"))
        .repartition(col("epoch"))
        .write.mode("overwrite").partitionBy("epoch").parquet(s"$dir/media")
      Multimodal.buildPayloadIndex(m, s"$dir/pay")
      Multimodal.mediaGc(s, Multimodal.mediaSnapshotNext(docs),
        s"$dir/media", Some(s"$dir/pay"))
      dir
    }

  /** [[payIndexDir]]'s [[mhPrunedDir]] twin: built over the base media
    * corpus, pruned to the next media generation.
    */
  private def payPrunedDir(s: SparkSession, d: String): String =
    memo(s"payprune|$d|${fingerprint(d, "documents")}") {
      val dir = tempIndexDir("graft-pay-pruned")
      val docs = Tables.documents(s, d)
      Multimodal.buildPayloadIndex(Multimodal.media(docs), dir)
      Multimodal.prunePayloadIndexTo(Multimodal.mediaSnapshotNext(docs), dir)
      dir
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_exact"   -> ((s, d) => LlmOps.dedupExact(LlmOps.exactDupCorpus(Tables.documents(s, d)))),
    "llm_dedup_minhash" -> ((s, d) => LlmOps.dedupMinHash(LlmOps.nearDupCorpus(Tables.documents(s, d)))),
    "llm_dedup_simhash" -> ((s, d) => LlmOps.simHash(Tables.documents(s, d))),
    "llm_dedup_clusters" -> ((s, d) => LlmOps.dedupClusters(
      LlmOps.dedupMinHash(LlmOps.nearDupCorpus(Tables.documents(s, d))))),
    "llm_dedup_containment" -> ((s, d) => LlmOps.dedupContainment(
      LlmOps.nearDupCorpus(Tables.documents(s, d)))),
    // the terminal apply step dumps (doc_id, n_chars): the kept rows'
    // identity + a content witness, without hauling text through compare
    "llm_dedup_apply" -> ((s, d) => {
      val corpus = LlmOps.nearDupCorpus(Tables.documents(s, d))
      LlmOps.dedupApply(corpus, LlmOps.dedupMinHash(corpus))
        .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars"))
    }),
    "llm_boilerplate"   -> ((s, d) => LlmOps.boilerplate(Tables.documents(s, d))),
    "llm_dedup_ngram"   -> ((s, d) => LlmOps.dedupNgram(LlmOps.nearDupCorpus(Tables.documents(s, d)))),
    "llm_dedup_cosine"  -> ((s, d) => LlmOps.dedupCosine(
      LlmOps.cosineCorpus(LlmOps.embBase(Tables.embeddings(s, d))))),
    // dedupClusters/dedupApply are pair-source-generic: the same CC +
    // anti-join machinery over cosine pairs = semantic dedup of vectors
    "llm_dedup_semantic" -> ((s, d) => {
      val corpus = LlmOps.cosineCorpus(LlmOps.embBase(Tables.embeddings(s, d)))
      LlmOps.dedupApply(corpus, LlmOps.dedupCosine(corpus), idCol = "vec_id")
        .select(col("vec_id"))
    }),
    "llm_ann_topk"      -> ((s, d) => LlmOps.annTopK(Tables.embeddings(s, d))),
    // the operator returns the real int array; the dumped query serializes
    // it (driver compare sorts on column values — arrays aren't sortable)
    "llm_quantize_int8" -> ((s, d) => LlmOps.quantizeInt8(Tables.embeddings(s, d))
      .withColumn("q", expr("array_join(q, ',')"))),
    "llm_ann_quantized" -> ((s, d) => LlmOps.annQuantized(Tables.embeddings(s, d))),
    "llm_ann_ivf"       -> ((s, d) => LlmOps.annIvf(Tables.embeddings(s, d))),
    // the same probe through the MATERIALIZED cell index: the per-corpus
    // memo builds the partitioned cell table once, every invocation is a
    // pruned probe of the stored cells; shares llm_ann_ivf's oracle
    "llm_ann_ivf_idx"   -> ((s, d) => LlmOps.annIvfIndexed(
      Tables.embeddings(s, d).filter(col("vec_id") < 8), annIndexDir(s, d))),
    // IVF over TRAINED (full-vector k-means) cells instead of the label
    // column — same Lloyd trainer as the PQ codebook at m=1; at the SAME
    // cell count (10), recall@5/64q measures 0.28-0.44 trained vs
    // 0.10-0.12 label-cells across the fixtures (the spec's A/B)
    "llm_ann_ivf_km"    -> ((s, d) => LlmOps.annIvfKm(Tables.embeddings(s, d),
      nQueries = IdxNq)),
    // the same ranking off the STORED index (frozen centroids +
    // cell-partitioned vectors): queries assign against the broadcast
    // centroid table, then prune to their cells; shares llm_ann_ivf_km's
    // oracle
    "llm_ann_ivfkm_idx" -> ((s, d) => LlmOps.annIvfKmIndexed(
      Tables.embeddings(s, d).filter(col("vec_id") < IdxNq), kmIndexDir(s, d))),
    // the SAME probe with the static pin FORCED into the overflow
    // regime (staticPinMaxCells = 0): the production shape for a query
    // batch whose cell footprint exceeds the plan-literal budget — the
    // cells scan prunes via a runtime dynamicpruningexpression instead
    // of a literal IN (the PlanQualitySpec-asserted fallback), and the
    // output is row-identical, so it shares llm_ann_ivf_km's oracle —
    // the regime gate is a pure plan decision, proven hash-green here
    // end-to-end rather than only spec-shape-asserted
    "llm_ann_ivfkm_idx_dyn" -> ((s, d) => LlmOps.annIvfKmIndexed(
      Tables.embeddings(s, d).filter(col("vec_id") < IdxNq), kmIndexDir(s, d),
      staticPinMaxCells = 0)),
    // the stored probe at nprobe = 2 — the serving dial a deployment
    // actually runs (recall@5 0.28 → 0.43 at sf0.1 for 2× scanned
    // cells; see the annIvfKmIndexed scaladoc's recall/cost table);
    // each query opens its TWO nearest cells' directories, statically
    // pinned like every stored probe
    "llm_ann_ivfkm_idx_p2" -> ((s, d) => LlmOps.annIvfKmIndexed(
      Tables.embeddings(s, d).filter(col("vec_id") < IdxNq), kmIndexDir(s, d),
      nprobe = 2)),
    // recall@5 (64 queries) of the trained-cell IVF vs exact cosine —
    // read next to llm_ann_recall's LSH gauge; the trained-vs-label
    // delta is asserted in the spec
    "llm_ann_recall_ivfkm" -> ((s, d) =>
      LlmOps.annRecallIvfKm(Tables.embeddings(s, d), nQueries = RecallNq)),
    // cell-drift gauge over the stored trained-cell index — the
    // rebuild trigger (pqDrift's sibling): per cell, members beyond the
    // ssd budget from their own frozen centroid + the worst offender
    "llm_km_drift" -> ((s, d) =>
      LlmOps.kmDrift(s, kmIndexDir(s, d))),
    // the same gauge at nprobe = 2 (each query scans its two nearest
    // cells — FAISS's serving dial): recall@5 0.36 → 0.54 at sf0.001,
    // 0.28 → 0.43 at sf0.1 for 2× candidate mass; read next to
    // llm_ann_recall_ivfkm the delta IS the multiprobe lift
    "llm_ann_recall_ivfkm_p2" -> ((s, d) =>
      LlmOps.annRecallIvfKm(Tables.embeddings(s, d), nQueries = RecallNq,
        nprobe = 2)),
    // the QUALITY-TIER dial (nprobe = 3): recall@5 0.43 → 0.57 at sf0.1
    // for 3× candidate mass vs nprobe=1's 1× — the point a deployment
    // serves latency-tolerant traffic at; registering it makes the
    // recall/cost curve's third point hash-checked instead of a
    // scaladoc transcription (the annIvfKmIndexed table is the curve)
    "llm_ann_recall_ivfkm_p3" -> ((s, d) =>
      LlmOps.annRecallIvfKm(Tables.embeddings(s, d), nQueries = RecallNq,
        nprobe = 3)),
    "llm_ann_lsh"       -> ((s, d) => LlmOps.annLsh(Tables.embeddings(s, d))),
    "llm_ann_multiprobe" -> ((s, d) => LlmOps.annMultiprobe(Tables.embeddings(s, d))),
    "llm_ann_pq"        -> ((s, d) => LlmOps.annPq(Tables.embeddings(s, d))),
    "llm_ann_pq_refine" -> ((s, d) => LlmOps.annPqRefine(Tables.embeddings(s, d))),
    "llm_ann_ivfpq"     -> ((s, d) => LlmOps.annIvfPq(Tables.embeddings(s, d))),
    // the same IVF-PQ ranking off the STORED serving index (frozen
    // codebook + cell-partitioned packed codes): probes prune to the
    // query cells and reconstruct from codes only — raw vectors never
    // read; shares llm_ann_ivfpq's oracle
    "llm_ann_ivfpq_idx" -> ((s, d) => LlmOps.annIvfPqIndexed(
      Tables.embeddings(s, d).filter(col("vec_id") < 8), pqIndexDir(s, d))),
    "llm_ann_recall"    -> ((s, d) => LlmOps.annRecall(Tables.embeddings(s, d))),
    // the same gauge over the Hamming-1 probe set: recall_mp − recall IS
    // the multi-probe lift, measured where an index deployment reads it
    "llm_ann_recall_mp" -> ((s, d) => LlmOps.annRecall(Tables.embeddings(s, d),
      multiprobe = true)),
    // recall of the ADC (packed-codes) ranking vs exact cosine — the
    // serving-path complement of the pqDrift reconstruction gauge
    "llm_ann_recall_pq" -> ((s, d) => LlmOps.annRecallPq(Tables.embeddings(s, d))),
    // the same ADC recall gauge with the DATA-ADAPTIVE codebook: two
    // bounded Lloyd iterations refine the hash-rank init over the capped
    // training set (k-means per subspace, the true PQ trainer). 64
    // queries, not 8: a recall delta needs statistical mass — at 8
    // queries the gauge reads noise (measured: the lift is invisible).
    // Measured on the driver fixtures: per-subvector quantization MSE
    // 0.268 → 0.212 and recall@5 0.031 → 0.050 at sf0.1 (0.084 → 0.103
    // at sf0.01); the corpus is isotropic unit-norm noise, so absolute
    // recall is small by construction — clustered data (the spec's
    // fixture) shows the full effect
    "llm_ann_recall_pq_lloyd" -> ((s, d) => LlmOps.annRecallPq(
      Tables.embeddings(s, d), nQueries = RecallNq,
      lloydIters = LlmOps.PqLloydIters)),
    "llm_dedup_edit"    -> ((s, d) => LlmOps.dedupEdit(LlmOps.nearDupCorpus(Tables.documents(s, d)))),
    "llm_text_stats"    -> ((s, d) => TextAnalysis.textStats(Tables.documents(s, d))),
    "llm_lang_id"       -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    "llm_token_count"   -> ((s, d) => TextAnalysis.tokenCount(Tables.documents(s, d))),
    "llm_fingerprint"   -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "llm_repetition"    -> ((s, d) => TextAnalysis.repetition(Tables.documents(s, d))),
    "llm_quality_filter" -> ((s, d) => TextAnalysis.qualityFilter(Tables.documents(s, d))),
    "llm_train_split"   -> ((s, d) => TextAnalysis.trainValSplit(Tables.documents(s, d))),
    "llm_sample_hash"   -> ((s, d) => LlmOps.sampleByHash(
      Tables.documents(s, d).select("doc_id", "text"), n = 100).select("doc_id", "pri")),
    "llm_sample_stratified" -> ((s, d) => LlmOps.sampleStratified(
      Tables.documents(s, d), perStratum = 25)),
    "llm_domain_mix"    -> ((s, d) => LlmOps.domainMix(Tables.documents(s, d))),
    // the repeat-factor half of mixing: per-mille multiplicities, full
    // copies + a hash-decided fractional copy, one row per (doc, epoch)
    "llm_domain_upsample" -> ((s, d) => LlmOps.domainUpsample(Tables.documents(s, d))),
    // token-budget domain sampling: per domain, the maximal hash-order
    // prefix whose running whitespace-token sum stays within the
    // domain's budget — the unit (tokens, not docs) real mixture
    // recipes are written in; two-level bucketed prefix sum inside
    // each domain (plan-asserted, no domain-wide window)
    "llm_domain_budget" -> ((s, d) => LlmOps.sampleByTokenBudget(Tables.documents(s, d))),
    // the TOKENIZER-CONSISTENT budget variant: the same bucketed-cumsum
    // prefix law with n_toks plugged from the BPE-ish regex tokenizer
    // (llm_token_count's re_tokens) instead of the whitespace split —
    // the pluggable-count contract (a bpeApplyStored n_tokens column
    // rides the same parameter; spec'd, not oracle-expressible)
    "llm_budget_tok" -> ((s, d) => LlmOps.sampleByTokenBudget(
      Tables.documents(s, d), tokenCountExpr =
        Some("cast(regexp_count(text, '[a-z0-9]+|[^a-z0-9 ]') as bigint)"))),
    // token-budget domain UPSAMPLING: fill each domain's budget by
    // cyclic repetition — b div T full epochs per doc plus the
    // remainder's hash-order prefix, closed-form off the same bucketed
    // cumsum (one row per (doc, epoch))
    "llm_budget_upsample" -> ((s, d) => LlmOps.upsampleToTokenBudget(Tables.documents(s, d))),
    "llm_dedup_incremental" -> ((s, d) => {
      val base = Tables.documents(s, d)
      LlmOps.incrementalDedup(base, LlmOps.incrementalBatch(base))
    }),
    // the composed end-to-end pipeline (quality → exact dedup → near
    // dedup) as one plan, reported as per-stage survivor counts — every
    // stage is the standalone operator, chained as DataFrames
    "llm_curate_funnel" -> ((s, d) =>
      LlmOps.curationFunnel(LlmOps.nearDupCorpus(Tables.documents(s, d)))),
    // the funnel's terminal materialization: the curated corpus itself
    // (kept doc ids + a content witness)
    "llm_curate_apply" -> ((s, d) =>
      LlmOps.curationApply(LlmOps.nearDupCorpus(Tables.documents(s, d)))),
    // the full CCNet-shaped pipeline: funnel stages + the stored-LM
    // fluency bar over the near-dedup survivors (the model is the
    // memoized full-documents artifact the other LM queries probe)
    "llm_curate_lm" -> ((s, d) => LlmOps.curationFunnelLm(
      LlmOps.nearDupCorpus(Tables.documents(s, d)), lmDir(s, d))),
    // the COMPLETE batch pipeline — every gate the live loop runs, as
    // one plan with six stage counts: quality → benchmark decontam →
    // exact dedup → near dedup → stored-LM fluency bar. The decontam
    // bar is 5 shared grams here (not the strict production 0): the
    // shared-vocabulary synthetic corpus makes incidental one-shingle
    // collisions ubiquitous (~3/4 of docs share ≥1), so the harness bar
    // drops only the heavy overlaps — the gate's arithmetic is
    // identical at any bar
    "llm_curate_full" -> ((s, d) => LlmOps.curationFunnelFull(
      LlmOps.nearDupCorpus(Tables.documents(s, d)), lmDir(s, d),
      decontamIndexDir(s, d), maxSharedGrams = 5L)),
    // the full pipeline's terminal corpus: near-dedup keepers clearing
    // the LM bar, after the decontam and exact gates — the rows a build
    // writes, same chain as llm_curate_full, dumped by the witness
    // convention
    "llm_curate_full_apply" -> ((s, d) => LlmOps.curationApplyFull(
      LlmOps.nearDupCorpus(Tables.documents(s, d)), lmDir(s, d),
      decontamIndexDir(s, d), maxSharedGrams = 5L)),
    // the batch funnel with the TRAINED quality classifier gating
    // between the heuristic pass and decontam — the last surface to
    // take the live loop's qualityModelDir/qualityTau option (gate
    // parity): seven stage counts, `1b_clf` the trained gate's
    // survivors, every later stage the shrunken chain
    "llm_curate_full_clf" -> ((s, d) => LlmOps.curationFunnelFull(
      LlmOps.nearDupCorpus(Tables.documents(s, d)), lmDir(s, d),
      decontamIndexDir(s, d), maxSharedGrams = 5L,
      qualityModelDir = Some(qclfDir(s, d)))),
    // the COMPLETE batch pipeline under the PER-LANGUAGE bar — closing
    // the three-surface parity (live loop and nightly delta already
    // accept lmLangDir): the same six gates as llm_curate_full, stage 5
    // scoring each survivor against its OWN language's stored model
    // (bar 0.034, the llm_curate_delta_lang convention)
    "llm_curate_full_lang" -> ((s, d) => LlmOps.curationFunnelFullLang(
      LlmOps.nearDupCorpusLang(Tables.documents(s, d)),
      s"${lmLangDir(s, d)}/lm", decontamIndexDir(s, d),
      threshold = 0.034, maxSharedGrams = 5L)),
    // the per-language pipeline's terminal corpus — the rows a
    // per-language build writes, by the witness convention
    "llm_curate_full_lang_apply" -> ((s, d) => LlmOps.curationApplyFullLang(
      LlmOps.nearDupCorpusLang(Tables.documents(s, d)),
      s"${lmLangDir(s, d)}/lm", decontamIndexDir(s, d),
      threshold = 0.034, maxSharedGrams = 5L)),
    // snapshot-versioning audit: which doc_ids were added / removed /
    // changed between two crawl generations — fingerprints full-outer
    // joined, text never shuffled, output ∝ churn
    "llm_corpus_diff" -> ((s, d) => {
      val base = Tables.documents(s, d)
      LlmOps.corpusDiff(base, LlmOps.snapshotNext(base))
    }),
    // nightly incremental curation: only the next generation's churn runs
    // the quality/exact/near gates, the near gate probing the STORED LSH
    // index (built over the base generation) with self-ids excluded
    "llm_curate_delta" -> ((s, d) => {
      val base = Tables.documents(s, d)
      LlmOps.curateDelta(base, LlmOps.snapshotCurate(base), mhIndexDir(s, d))
    }),
    // the nightly delta with the TRAINED classifier riding the quality
    // stage (qualityModelDir on the nightly surface — gate parity with
    // the live loop and the batch funnel): per-doc vs the frozen
    // artifact, applied as an end-stage intersection, footprint fused
    // into the one barrier
    "llm_curate_delta_clf" -> ((s, d) => {
      val base = Tables.documents(s, d)
      LlmOps.curateDelta(base, LlmOps.snapshotCurate(base), mhIndexDir(s, d),
        qualityModelDir = Some(qclfDir(s, d)))
    }),
    // the nightly delta run with the LM bar composed in: churn-only
    // gates as above, then the near-gate survivors score against the
    // stored reference model — every curation surface (batch funnel,
    // streaming ingest, nightly delta) now offers the same fluency gate
    "llm_curate_delta_lm" -> ((s, d) => {
      val base = Tables.documents(s, d)
      LlmOps.curateDelta(base, LlmOps.snapshotCurate(base), mhIndexDir(s, d),
        lmDir = Some(lmDir(s, d)))
    }),
    // the nightly delta with EVERY gate: quality → benchmark decontam
    // (bar 5, the llm_curate_full convention) → exact → stored-index
    // near probe → stored-LM bar — three-surface parity (batch full,
    // streaming, nightly delta all run the same five gates)
    "llm_curate_delta_full" -> ((s, d) => {
      val base = Tables.documents(s, d)
      LlmOps.curateDelta(base, LlmOps.snapshotCurate(base), mhIndexDir(s, d),
        lmDir = Some(lmDir(s, d)),
        decontamDir = Some(decontamIndexDir(s, d)), maxSharedGrams = 5L)
    }),
    // the nightly delta with the PER-LANGUAGE bar: churn-only gates as
    // llm_curate_delta, then survivors score under their OWN language's
    // stored model — the live loop's lmLangDir deployment, nightly
    // (bar 0.034: per-lang scores sit in [0.027, 0.051] across SFs and
    // 0.034 is discriminative at all three — the DeltaApplyBar lesson)
    "llm_curate_delta_lang" -> ((s, d) => {
      val base = Tables.documents(s, d)
      LlmOps.curateDelta(base, LlmOps.snapshotCurateLang(base),
        mhIndexDir(s, d), lmLangDir = Some(s"${lmLangDir(s, d)}/lm"),
        fluencyThreshold = 0.034)
    }),
    // the nightly delta's TERMINAL ADMIT: the every-gate delta's
    // survivors committed into the epoch-partitioned stored corpus (and
    // their signatures appended to the index) behind one crash-windowed
    // commit — the audit reads the committed epoch back, count-and-
    // content parity with llm_curate_delta_full's final stage
    "llm_curate_delta_apply" -> ((s, d) =>
      s.read.parquet(s"${deltaAppliedDir(s, d)}/corpus")
        .filter(col("epoch") === 1L)
        .select(col("doc_id"),
          length(col("text")).cast("bigint").as("n_chars"))),
    // the near-dup ingest gate: tailed copies survive the EXACT
    // incremental check above but are dropped here; reversed-word docs
    // (shingle-disjoint) survive both
    "llm_dedup_inc_minhash" -> ((s, d) => {
      val base = Tables.documents(s, d)
      LlmOps.incrementalDedupMinHash(base, LlmOps.incrementalNearBatch(base))
    }),
    // the same gate through the MATERIALIZED index: the per-corpus memo
    // builds once, every invocation probes the stored band/signature
    // tables (the production query stream's steady state); output is
    // identical to llm_dedup_inc_minhash, so both share one oracle
    "llm_dedup_inc_mh_idx" -> ((s, d) => LlmOps.incrementalDedupMinHashIndexed(
      LlmOps.incrementalNearBatch(Tables.documents(s, d)), mhIndexDir(s, d))),
    // the EMBEDDING-side ingest gate over the stored ANN cell index: batch
    // vectors near-dup (cell-restricted cosine >= 0.99) of the indexed
    // base slice drop, the semantically-new survive — the semantic
    // sibling of llm_dedup_inc_mh_idx, probing pruned cell directories
    "llm_dedup_sem_idx" -> ((s, d) => LlmOps.incrementalDedupCosineIndexed(
      LlmOps.incrementalVecBatch(Tables.embeddings(s, d)),
      semAnnIndexDir(s, d), vecCol = "e")),
    // blocking-quality gauge: banded-LSH pair recall vs all-pairs exact
    // Jaccard truth on the doc_id % 20 subsample of the near-dup corpus
    "llm_dedup_recall" -> ((s, d) => LlmOps.dedupRecall(
      LlmOps.nearDupCorpus(Tables.documents(s, d)))),
    // the cosine-family twin: sign-bucket blocking recall vs all-pairs
    // exact-cosine truth on the vec_id % 20 subsample of the perturbed-
    // copy corpus — the bucketBits dial-reading
    "llm_sem_recall" -> ((s, d) => LlmOps.semRecall(
      LlmOps.cosineCorpus(LlmOps.embBase(Tables.embeddings(s, d))))),
    "llm_bpe_pairs"     -> ((s, d) => LlmOps.bpePairs(Tables.documents(s, d))),
    // run over the injected-dup corpus so dup_frac is non-trivial; source/
    // lang joined back from the base table (injected copies inherit them)
    "llm_corpus_stats"  -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = LlmOps.exactDupCorpus(docs)
        .join(docs.select(col("doc_id").as("base_id"), col("source"), col("lang")),
          col("doc_id") % 20000000L === col("base_id"))
        .select("doc_id", "text", "source", "lang")
      LlmOps.corpusStats(corpus)
    }),
    // iterative vocab training — each merge depends on the last, outside
    // static SQL → rows-only; the algorithm is spec-verified against a
    // single-node reference (LlmSpec "bpe train")
    "llm_bpe_train"     -> ((s, d) => LlmOps.bpeTrain(Tables.documents(s, d))),
    // the encode step a tokenizer consumer actually calls: merges trained
    // on the 5% doc_id slice (a tokenizer is trained on a sample, then
    // encodes the whole corpus), applied per-doc. The per-word iterative
    // merge loop is outside static SQL → rows-only; token totals
    // cross-checked against the trained merge
    // table by spec (LlmSpec "bpe apply")
    "llm_bpe_apply"     -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = LlmOps.bpeTrain(docs.filter(col("doc_id") % 20 === 0))
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      LlmOps.bpeApply(docs, merges)
    }),
    // the same encode off the STORED tokenizer artifact — training paid
    // once at build, every subsequent encode job reads the merge table
    // (train-once/apply-everywhere, the production tokenizer lifecycle);
    // rows-only like llm_bpe_apply, equivalence to the inline form spec'd
    // (LlmSpec "bpe stored tokenizer")
    "llm_bpe_apply_idx" -> ((s, d) =>
      LlmOps.bpeApplyStored(Tables.documents(s, d), bpeTokenizerDir(s, d))),
    "llm_global_shuffle" -> ((s, d) => LlmOps.globalShuffle(Tables.documents(s, d))),
    "llm_pack_sequences" -> ((s, d) => LlmOps.packSequences(Tables.documents(s, d))),
    "llm_pack_apply"    -> ((s, d) => LlmOps.packApply(Tables.documents(s, d))),
    // token-balanced shard manifest: contiguous token ranges of equal
    // mass, off the same two-level prefix sum — no corpus-wide window
    "llm_pack_shards"   -> ((s, d) => LlmOps.packShards(Tables.documents(s, d))),
    // run over the injected-near-dup corpus so duplicated spans exist
    "llm_dedup_spans" -> ((s, d) => LlmOps.dedupSpans(LlmOps.nearDupCorpus(Tables.documents(s, d)))),
    "llm_dedup_spans_apply" -> ((s, d) => LlmOps.dedupSpansApply(LlmOps.nearDupCorpus(Tables.documents(s, d)))),
    "llm_decontaminate" -> ((s, d) => LlmOps.decontaminate(Tables.documents(s, d))),
    "llm_tok_freq"      -> ((s, d) => LlmOps.tokenFreqScore(Tables.documents(s, d))),
    "llm_keywords"      -> ((s, d) => LlmOps.keywords(Tables.documents(s, d))),
    // corpus-as-language-model fluency: mean bigram transition
    // probability under the corpus' own bigram counts — rational
    // arithmetic only, value-sorted fold for cross-engine bit-exactness
    "llm_fluency"       -> ((s, d) => LlmOps.fluencyScore(Tables.documents(s, d))),
    // the stored-LM probe in its production shape: a BATCH (the %10 doc
    // slice — the incrementalNearBatch discipline) scores against the
    // full-corpus model. Slice ⊆ model corpus ⇒ full coverage, same
    // integers, same sorted fold — bit-identical to the in-query scoring
    // restricted to the slice, which is what the oracle states
    "llm_fluency_idx"   -> ((s, d) => LlmOps.fluencyStored(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0), lmDir(s, d))),
    "llm_lm_stats"      -> ((s, d) => LlmOps.lmStats(s, lmDir(s, d))),
    // PER-LANGUAGE model health: the same four aggregates grouped by
    // lang over the (lang, wb)-partitioned stored table — a collapsed
    // minority-language model reads as its own row instead of being
    // averaged into the global gauge
    "llm_lm_stats_lang" -> ((s, d) =>
      LlmOps.lmStatsLang(s, s"${lmLangDir(s, d)}/lm")),
    // batch keyword scoring off the STORED IDF model (the fluency_idx
    // convention: the %10 batch slice against the full-corpus artifact,
    // df scan pruned to the batch's token buckets, batch broadcast)
    "llm_keywords_idx"  -> ((s, d) => LlmOps.keywordsStored(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0), idfDir(s, d))),
    // IDF-table health gauge: per tb bucket, vocab size / hottest df /
    // df mass — the stopword and tokenizer-degeneracy early warning
    "llm_idf_stats"     -> ((s, d) => LlmOps.idfModelStats(s, idfDir(s, d))),
    // per-language stored-IDF probe: each doc's terms weigh against ITS
    // language's df/N (the last global-only frozen-statistics artifact
    // taken per-language — the lmStatsLang round's argument applied to
    // document frequencies); %10 slice vs the full-corpus artifact
    "llm_keywords_lang" -> ((s, d) => LlmOps.keywordsStoredByLang(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
      idfLangDir(s, d))),
    // per-language IDF health gauge — a collapsed minority language
    // reads as its own rows instead of averaging into the global one
    "llm_idf_stats_lang" -> ((s, d) =>
      LlmOps.idfModelStatsByLang(s, idfLangDir(s, d))),
    // trained quality classifier, corpus-as-its-own-model: per-token
    // class-conditional likelihood ratios distilled from the heuristic
    // gate's labels, mean-ratio scored with the value-sorted fold —
    // over the junk-injected fixture corpus so both classes exist
    "llm_quality_clf"   -> ((s, d) => LlmOps.qualityClassify(
      LlmOps.qclfCorpus(Tables.documents(s, d)))),
    // the stored-classifier probe (the fluency_idx convention: a clean
    // %10 batch slice vs the artifact trained on the mixed fixture
    // corpus, weight scan pruned to the batch's token buckets, batch
    // broadcast) — slice ⊆ training corpus ⇒ full coverage,
    // bit-identical to the in-query form restricted to the slice
    "llm_quality_clf_idx" -> ((s, d) => LlmOps.qualityScoreStored(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0), qclfDir(s, d))),
    // classifier-table health gauge: per tb bucket, vocab size and the
    // two classes' occurrence mass
    "llm_qclf_stats"    -> ((s, d) => LlmOps.qclfStats(s, qclfDir(s, d))),
    // distillation fidelity: confusion counts of the trained scorer's
    // τ decision vs the heuristic gate it was trained from
    "llm_qclf_agreement" -> ((s, d) => LlmOps.qclfAgreement(
      LlmOps.qclfCorpus(Tables.documents(s, d)))),
    // CCNet head/middle/tail: tercile thresholds frozen offline from
    // the %10 calibration slice's stored-LM scores (the stored
    // partitioner artifact), applied corpus-wide in one stateless pass
    "llm_lm_partition"  -> ((s, d) => LlmOps.lmPartition(
      Tables.documents(s, d), lmDir(s, d), lmCutsDir(s, d))),
    // the CCNet selection rule applied: head whole, middle sampled at
    // 500‰ by salted hash, tail dropped — the partition pass + a filter
    "llm_lm_partition_apply" -> ((s, d) => LlmOps.lmPartitionApply(
      Tables.documents(s, d), lmDir(s, d), lmCutsDir(s, d))),
    // PER-LANGUAGE stored-LM probe: each %10-slice doc scores under its
    // OWN language's frozen transition model — the (lang, wb) footprint
    // prunes the model scan to the batch's languages and buckets
    "llm_fluency_lang" -> ((s, d) => LlmOps.fluencyStoredByLang(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
      s"${lmLangDir(s, d)}/lm")),
    // CCNet head/middle/tail with PER-LANGUAGE calibrated cuts: every
    // doc buckets by its own language's frozen tercile bar — the
    // minority-language fairness fix over llm_lm_partition's global bar
    "llm_lm_partition_lang" -> ((s, d) => LlmOps.lmPartitionByLang(
      Tables.documents(s, d), s"${lmLangDir(s, d)}/lm",
      s"${lmLangDir(s, d)}/pt")),
    // PER-LANGUAGE trained quality gate: each %10-slice doc's tokens
    // weigh against its OWN language's likelihood table — (lang, tb)
    // footprint prunes the weight scan, ratios normalize within-language
    "llm_quality_clf_lang" -> ((s, d) => LlmOps.qualityScoreStoredByLang(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
      qclfLangDir(s, d))),
    // PII injected deterministically (every 5th doc gets an email + a long
    // number appended), then scrubbed — the corpus itself is PII-free.
    "llm_scrub_pii"     -> ((s, d) => TextAnalysis.scrubPii(
      Tables.documents(s, d).withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com ref 12345678"), col("doc_id").cast("string")))
          .otherwise(col("text"))))),
    // Cross-modal composition: media metadata joined to its embedding row
    // (vec_id = doc_id % n_vectors), nearest same-label neighbor count —
    // the metadata-filter → vector-search shape of a multimodal pipeline.
    "mm_embed_join" -> ((s, d) => {
      val meta = Multimodal.mediaMeta(Tables.documents(s, d))
        .filter(col("codec") === "png")
      val emb = Tables.embeddings(s, d)
      meta.join(emb, meta("doc_id") % 2000 === emb("vec_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("n_bytes")).as("total_bytes"))
    }),

    "mm_media_meta"     -> ((s, d) => Multimodal.mediaMeta(Tables.documents(s, d))),
    "mm_frame_sample"   -> ((s, d) => Multimodal.frameSample(Tables.documents(s, d))),
    // REAL byte-level media decode: payloads carry genuine PNG/JPEG/GIF
    // headers (every 4th headerless), format from the magic, dims from
    // each format's own layout — all codegen'd builtins, the typed-map
    // twin (decodeMediaBatch) spec'd byte-identical
    "mm_decode_header"  -> ((s, d) => Multimodal.decodeMediaHeader(
      Multimodal.mediaEncoded(Tables.documents(s, d)))
      .select("doc_id", "format", "width_px", "height_px", "n_bytes")),
    // media dedup — exact byte-hash groups and simhash-over-byte-grams
    // near pairs, over the injected exact+near payload-copy corpus
    // sliding-window chunking: 64-token chunks every 48 tokens (16-token
    // overlap), the pre-tokenization step ahead of packing
    "llm_chunk_docs"    -> ((s, d) => LlmOps.chunkDocs(Tables.documents(s, d))),
    "mm_payload_dedup"  -> ((s, d) => Multimodal.payloadDedup(Tables.documents(s, d))),
    "mm_payload_near"   -> ((s, d) => Multimodal.payloadNearDedup(Tables.documents(s, d))),
    // terminal media dedup: near pairs (Hamming 0 subsumes exact copies)
    // → connected components → keep cluster-min; (doc_id, n_bytes) out
    "mm_payload_apply"  -> ((s, d) => Multimodal.payloadDedupApply(Tables.documents(s, d))),
    // index-health gauge over a stored LSH index: per band, distinct block
    // keys / hottest bucket / total rows — the probe-cost early warning
    "llm_dedup_index_stats" -> ((s, d) =>
      LlmOps.minHashIndexStats(s, mhIndexDir(s, d))),
    // cell-health gauge over the stored ANN cell table: rows per cell —
    // probe latency is ∝ probed cell size, so the hot cell is the p99
    "llm_ann_index_stats" -> ((s, d) =>
      LlmOps.annIndexStats(s, annIndexDir(s, d))),
    // same gauge over the stored PQ codes table (one packed row per
    // vector, so per-cell counts mirror the corpus — a count above the
    // corpus' is an un-compacted replayed append)
    "llm_pq_index_stats" -> ((s, d) =>
      LlmOps.pqIndexStats(s, pqIndexDir(s, d))),
    // corpus ↔ stored-index reconciliation: the LSH index was built over
    // the BASE documents generation, the "current" corpus is the next
    // crawl snapshot — survivors are indexed, arrivals unindexed,
    // removed ids orphaned
    "llm_index_coverage" -> ((s, d) => LlmOps.indexCoverage(
      LlmOps.snapshotNext(Tables.documents(s, d)), mhIndexDir(s, d))),
    // the same reconciliation for the embedding-side artifacts: the
    // stored cell table (ANN) and packed-code table (PQ) audit against
    // the next vector generation — arrivals unindexed, removals orphaned
    "llm_ann_coverage" -> ((s, d) => LlmOps.indexCoverage(
      LlmOps.vecSnapshotNext(Tables.embeddings(s, d)), annIndexDir(s, d),
      idCol = "vec_id", indexTable = "cells", indexIdCol = "vec_id")),
    "llm_pq_coverage" -> ((s, d) => LlmOps.indexCoverage(
      LlmOps.vecSnapshotNext(Tables.embeddings(s, d)), pqIndexDir(s, d),
      idCol = "vec_id", indexTable = "codes", indexIdCol = "vec_id")),
    // codebook-drift gauge over the stored PQ index: per cell, vectors
    // over the quantization-error budget + worst error — the retrain dial
    "llm_pq_drift" -> ((s, d) =>
      LlmOps.pqDrift(Tables.embeddings(s, d), pqIndexDir(s, d))),
    // the detect→repair close of the coverage loop: the same audit as
    // llm_index_coverage, but over an index PRUNED to the snapshot —
    // the orphaned class is gone (no ghost can veto a re-ingest),
    // indexed/unindexed unchanged
    "llm_index_prune" -> ((s, d) => LlmOps.indexCoverage(
      LlmOps.snapshotNext(Tables.documents(s, d)), mhPrunedDir(s, d))),
    "llm_ann_prune" -> ((s, d) => LlmOps.indexCoverage(
      LlmOps.vecSnapshotNext(Tables.embeddings(s, d)),
      s"${vecPrunedDir(s, d)}/ann",
      idCol = "vec_id", indexTable = "cells", indexIdCol = "vec_id")),
    "llm_pq_prune" -> ((s, d) => LlmOps.indexCoverage(
      LlmOps.vecSnapshotNext(Tables.embeddings(s, d)),
      s"${vecPrunedDir(s, d)}/pq",
      idCol = "vec_id", indexTable = "codes", indexIdCol = "vec_id")),
    // corpus GC: the stored (epoch-partitioned) corpus after
    // applyCorpusRemovals — removed ids gone, survivors byte-identical,
    // dumped as (doc_id, n_chars), the dedup-apply witness convention
    "llm_corpus_gc" -> ((s, d) =>
      s.read.parquet(s"${gcCorpusDir(s, d)}/corpus")
        .select(col("doc_id"),
          length(col("text")).cast("bigint").as("n_chars"))),
    // dataset versioning's read side: the corpus as of epoch 2 — the
    // epoch bound is pure partition pruning on the stored layout
    "llm_corpus_asof" -> ((s, d) =>
      LlmOps.readCorpusAsOf(s, s"${epochCorpusDir(s, d)}/corpus", 2L)
        .select(col("doc_id"), col("epoch").cast("bigint").as("epoch"),
          length(col("text")).cast("bigint").as("n_chars"))),
    // the media ingest gate over the STORED payload-simhash index:
    // exact byte copies (Hamming 0) and one-byte re-encodes (≤3) drop
    // against the indexed base corpus, genuinely-new payloads survive —
    // llm_dedup_inc_mh_idx's multimodal twin, probing pruned chunk dirs
    "mm_payload_inc_idx" -> ((s, d) =>
      Multimodal.incrementalPayloadDedupIndexed(
        Multimodal.payloadIngestBatch(Tables.documents(s, d)),
        payIndexDir(s, d))),
    // per-chunk index health off the stored chunk table: distinct chunk
    // values, hottest bucket, total rows — the stop-list signal for
    // correlated byte-gram media
    "mm_payload_index_stats" -> ((s, d) =>
      Multimodal.payloadIndexStats(s, payIndexDir(s, d))),
    // id-level reconciliation of the stored payload index against the
    // next media generation (chunks table, 4 rows/payload — distinct'd)
    "mm_payload_coverage" -> ((s, d) => LlmOps.indexCoverage(
      Multimodal.mediaSnapshotNext(Tables.documents(s, d)),
      payIndexDir(s, d), indexTable = "chunks")),
    // the repaired artifact's audit: after prunePayloadIndexTo no
    // orphaned class remains
    "mm_payload_prune" -> ((s, d) => LlmOps.indexCoverage(
      Multimodal.mediaSnapshotNext(Tables.documents(s, d)),
      payPrunedDir(s, d), indexTable = "chunks")),
    // content-level drift audit between two MEDIA generations: per asset,
    // added / removed / changed (re-encode) / unchanged off md5 payload
    // fingerprints — the payloads never join or shuffle
    "mm_media_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Multimodal.mediaDiff(
        Multimodal.media(docs).select("doc_id", "payload"),
        Multimodal.mediaSnapshotDiff(docs))
    }),
    // media versioning's read side: the media corpus as of epoch 2 —
    // pure partition pruning on the stored epoch layout (plan-asserted)
    "mm_media_asof" -> ((s, d) =>
      Multimodal.readMediaAsOf(s, s"${mediaEpochDir(s, d)}/media", 2L)
        .select(col("doc_id"), col("epoch").cast("bigint").as("epoch"),
          octet_length(col("payload")).cast("bigint").as("n_bytes"))),
    // the composed media GC read-back: takedowns (%11) deleted from the
    // stored corpus, survivors byte-identical; the chained payload-index
    // prune is spec'd (ghost-veto heals) and audited by mm_payload_prune
    "mm_media_gc" -> ((s, d) =>
      s.read.parquet(s"${mediaGcDir(s, d)}/media")
        .select(col("doc_id"),
          octet_length(col("payload")).cast("bigint").as("n_bytes"))),
    // the production-direction decontamination gate: training candidates
    // (bucket < 90) probe the STORED benchmark gram set (bucket ≥ 95,
    // frozen into the artifact) — llm_decontaminate's roles inverted
    // into the stored-artifact lifecycle
    "llm_decontam_idx" -> ((s, d) => LlmOps.decontaminateStored(
      Tables.documents(s, d).filter(
        expr(s"${LlmOps.h56("concat('split|', cast(doc_id as string))")} % 100") < 90),
      decontamIndexDir(s, d))),
    // gram-table health gauge: per hb bucket, physical rows vs distinct
    // grams — the append-debt and degenerate-shingle early warning
    "llm_decontam_stats" -> ((s, d) =>
      LlmOps.decontamIndexStats(s, decontamIndexDir(s, d)))
  )

  /** Verify-dump sort keys (applied by [[graft.Verify]], not the operators). */
  def dumpOrder: Map[String, Seq[org.apache.spark.sql.Column]] = Map(
    "llm_dedup_exact"   -> Seq(col("keeper_id")),
    "llm_dedup_minhash" -> Seq(col("id_a"), col("id_b")),
    "llm_dedup_simhash" -> Seq(col("doc_id")),
    "llm_dedup_clusters" -> Seq(col("doc_id")),
    "llm_dedup_containment" -> Seq(col("id_a"), col("id_b")),
    "llm_dedup_apply"   -> Seq(col("doc_id")),
    "llm_dedup_semantic" -> Seq(col("vec_id")),
    "llm_sample_stratified" -> Seq(col("source"), col("doc_id")),
    "llm_domain_mix"    -> Seq(col("source"), col("doc_id")),
    "llm_domain_upsample" -> Seq(col("doc_id"), col("epoch")),
    "llm_domain_budget" -> Seq(col("source"), col("doc_id")),
    "llm_budget_tok"    -> Seq(col("source"), col("doc_id")),
    "llm_budget_upsample" -> Seq(col("source"), col("doc_id"), col("epoch")),
    "llm_dedup_incremental" -> Seq(col("doc_id")),
    "llm_corpus_diff"   -> Seq(col("doc_id")),
    "llm_index_coverage" -> Seq(col("status")),
    "llm_ann_coverage"  -> Seq(col("status")),
    "llm_pq_coverage"   -> Seq(col("status")),
    "llm_index_prune"   -> Seq(col("status")),
    "llm_ann_prune"     -> Seq(col("status")),
    "llm_pq_prune"      -> Seq(col("status")),
    "llm_corpus_gc"     -> Seq(col("doc_id")),
    "llm_corpus_asof"   -> Seq(col("doc_id")),
    "mm_payload_inc_idx" -> Seq(col("doc_id")),
    "mm_media_diff"     -> Seq(col("doc_id")),
    "mm_media_asof"     -> Seq(col("doc_id")),
    "mm_media_gc"       -> Seq(col("doc_id")),
    "mm_payload_index_stats" -> Seq(col("chunk_idx")),
    "mm_payload_coverage" -> Seq(col("status")),
    "mm_payload_prune"  -> Seq(col("status")),
    "llm_decontam_idx"  -> Seq(col("doc_id")),
    "llm_decontam_stats" -> Seq(col("hb")),
    "llm_pq_drift"      -> Seq(col("cell")),
    "llm_curate_delta"  -> Seq(col("stage")),
    "llm_curate_delta_full" -> Seq(col("stage")),
    "llm_curate_delta_apply" -> Seq(col("doc_id")),
    "llm_curate_delta_lang" -> Seq(col("stage")),
    "llm_curate_delta_lm" -> Seq(col("stage")),
    "llm_curate_funnel" -> Seq(col("stage")),
    "llm_curate_lm"     -> Seq(col("stage")),
    "llm_curate_full"   -> Seq(col("stage")),
    "llm_curate_full_clf" -> Seq(col("stage")),
    "llm_curate_delta_clf" -> Seq(col("stage")),
    "llm_curate_full_lang" -> Seq(col("stage")),
    "llm_curate_full_lang_apply" -> Seq(col("doc_id")),
    "llm_curate_full_apply" -> Seq(col("doc_id")),
    "llm_curate_apply"  -> Seq(col("doc_id")),
    "llm_dedup_inc_minhash" -> Seq(col("doc_id")),
    "llm_dedup_inc_mh_idx" -> Seq(col("doc_id")),
    "llm_dedup_sem_idx" -> Seq(col("vec_id")),
    "llm_dedup_recall"  -> Seq(col("n_true")),
    "llm_sem_recall"    -> Seq(col("n_true")),
    "llm_bpe_pairs"     -> Seq(col("sym_a"), col("sym_b")),
    "llm_corpus_stats"  -> Seq(col("n_docs")),
    "llm_bpe_train"     -> Seq(col("rank")),
    "llm_global_shuffle" -> Seq(col("doc_id")),
    "llm_boilerplate"   -> Seq(col("doc_id")),
    "llm_pack_sequences" -> Seq(col("doc_id")),
    "llm_pack_shards"   -> Seq(col("doc_id")),
    "llm_pack_apply"    -> Seq(col("doc_id"), col("seq_id")),
    "llm_dedup_spans"   -> Seq(col("doc_id"), col("pos")),
    "llm_dedup_spans_apply" -> Seq(col("doc_id")),
    "llm_decontaminate" -> Seq(col("doc_id")),
    "llm_tok_freq"      -> Seq(col("doc_id")),
    "llm_keywords"      -> Seq(col("doc_id"), col("rnk")),
    "llm_keywords_idx"  -> Seq(col("doc_id"), col("rnk")),
    "llm_keywords_lang" -> Seq(col("doc_id"), col("rnk")),
    "llm_idf_stats"     -> Seq(col("tb")),
    "llm_idf_stats_lang" -> Seq(col("lang"), col("tb")),
    "llm_quality_clf"   -> Seq(col("doc_id")),
    "llm_quality_clf_idx" -> Seq(col("doc_id")),
    "llm_qclf_stats"    -> Seq(col("tb")),
    "llm_lm_stats_lang" -> Seq(col("lang")),
    "llm_qclf_agreement" -> Seq(col("keep"), col("pred")),
    "llm_fluency"       -> Seq(col("doc_id")),
    "llm_fluency_idx"   -> Seq(col("doc_id")),
    "llm_lm_partition"  -> Seq(col("doc_id")),
    "llm_lm_partition_apply" -> Seq(col("doc_id")),
    "llm_fluency_lang"  -> Seq(col("doc_id")),
    "llm_lm_partition_lang" -> Seq(col("doc_id")),
    "llm_quality_clf_lang" -> Seq(col("doc_id")),
    "llm_dedup_ngram"   -> Seq(col("id_a"), col("id_b")),
    "llm_dedup_cosine"  -> Seq(col("id_a"), col("id_b")),
    "llm_ann_topk"      -> Seq(col("qid"), col("rnk")),
    "llm_quantize_int8" -> Seq(col("vec_id")),
    "llm_ann_quantized" -> Seq(col("qid"), col("rnk")),
    "llm_ann_ivf"       -> Seq(col("qid"), col("rnk")),
    "llm_ann_ivf_idx"   -> Seq(col("qid"), col("rnk")),
    "llm_ann_lsh"       -> Seq(col("qid"), col("rnk")),
    "llm_ann_multiprobe" -> Seq(col("qid"), col("rnk")),
    "llm_ann_pq"        -> Seq(col("qid"), col("rnk")),
    "llm_ann_pq_refine" -> Seq(col("qid"), col("rnk")),
    "llm_ann_ivfpq"     -> Seq(col("qid"), col("rnk")),
    "llm_ann_ivfpq_idx" -> Seq(col("qid"), col("rnk")),
    "llm_ann_recall"    -> Seq(col("qid")),
    "llm_ann_recall_mp" -> Seq(col("qid")),
    "llm_ann_recall_pq" -> Seq(col("qid")),
    "llm_ann_recall_pq_lloyd" -> Seq(col("qid")),
    "llm_ann_recall_ivfkm" -> Seq(col("qid")),
    "llm_ann_recall_ivfkm_p2" -> Seq(col("qid")),
    "llm_ann_recall_ivfkm_p3" -> Seq(col("qid")),
    "llm_km_drift" -> Seq(col("cell")),
    "llm_ann_ivf_km"    -> Seq(col("qid"), col("rnk")),
    "llm_ann_ivfkm_idx" -> Seq(col("qid"), col("rnk")),
    "llm_ann_ivfkm_idx_dyn" -> Seq(col("qid"), col("rnk")),
    "llm_ann_ivfkm_idx_p2" -> Seq(col("qid"), col("rnk")),
    "llm_bpe_apply"     -> Seq(col("doc_id")),
    "llm_bpe_apply_idx" -> Seq(col("doc_id")),
    "llm_dedup_edit"    -> Seq(col("id_a"), col("id_b")),
    "llm_text_stats"    -> Seq(col("doc_id")),
    "llm_lang_id"       -> Seq(col("doc_id")),
    "llm_token_count"   -> Seq(col("doc_id")),
    "llm_fingerprint"   -> Seq(col("doc_id")),
    "llm_repetition"    -> Seq(col("doc_id")),
    "llm_quality_filter" -> Seq(col("doc_id")),
    "llm_train_split"   -> Seq(col("doc_id")),
    "llm_scrub_pii"     -> Seq(col("doc_id")),
    "mm_embed_join"     -> Seq(col("label")),
    "mm_media_meta"     -> Seq(col("doc_id")),
    "mm_frame_sample"   -> Seq(col("doc_id"), col("frame_idx")),
    "mm_decode_header"  -> Seq(col("doc_id")),
    "mm_payload_dedup"  -> Seq(col("keeper_id")),
    "mm_payload_near"   -> Seq(col("id_a"), col("id_b")),
    "mm_payload_apply"  -> Seq(col("doc_id")),
    "llm_dedup_index_stats" -> Seq(col("band_idx")),
    "llm_ann_index_stats" -> Seq(col("cell")),
    "llm_pq_index_stats" -> Seq(col("cell")),
    "llm_chunk_docs"    -> Seq(col("doc_id"), col("chunk_idx"))
  )

  // --------------------------------------------------------- oracle SQL

  /** DuckDB: distinct word-3-shingles from `toks` (mirrors withShingles). */
  private val shinglesDuck =
    "list_distinct(list_transform(range(1, greatest(len(toks)-2, 1)+1), i -> array_to_string(list_slice(toks, i, i+2), ' ')))"

  private val mhCols = (1 to NumHashes).map(j =>
    s"list_min(list_transform(gs, g -> (${LlmOps.affineA(j)} * g + ${LlmOps.affineB(j)}) % ${LlmOps.MersenneP})) AS mh$j")
    .mkString(",\n    ")

  /** Band-key union over a named signature CTE (mirrors withMinHashBands). */
  private def bandUnionOf(tbl: String): String = (0 until Bands).map { b =>
    val key = (1 to 3).map(r => s"CAST(mh${3 * b + r} AS VARCHAR)").mkString(" || ',' || ")
    s"SELECT doc_id, $b AS band_idx, md5($key) AS band_key FROM $tbl"
  }.mkString("\n  UNION ALL ")

  private val bandUnion = bandUnionOf("mh")

  /** The one-sided minhash ingest-gate CTE chain, parameterized over the
    * batch and base table/CTE names: both sides' shingles → signatures →
    * bands, batch bands probing base bands, exact-Jaccard verify — ending
    * in `dup` (batch_id), with `bshg` left in scope for the caller's
    * survivor anti-membership. `selfExcl` mirrors the Spark probe's
    * excludeSelfId (a changed doc is an update, not a dup of its old
    * self). Shared by the incremental-dedup oracle and the delta-curation
    * oracle so both state the identical probe.
    */
  private def incGateCtes(batchTbl: String, baseTbl: String,
      selfExcl: Boolean = false): String =
    s"""btok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $batchTbl),
       |bsh AS (SELECT doc_id, $shinglesDuck AS shingles FROM btok),
       |bshg AS (SELECT doc_id,
       |    list_distinct(list_transform(shingles, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs
       |  FROM bsh),
       |bmh AS (SELECT doc_id,
       |    $mhCols
       |  FROM bshg),
       |bbands AS (
       |  ${bandUnionOf("bmh")}
       |),
       |otok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $baseTbl),
       |osh AS (SELECT doc_id, $shinglesDuck AS shingles FROM otok),
       |oshg AS (SELECT doc_id,
       |    list_distinct(list_transform(shingles, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs
       |  FROM osh),
       |omh AS (SELECT doc_id,
       |    $mhCols
       |  FROM oshg),
       |obands AS (
       |  ${bandUnionOf("omh")}
       |),
       |cand AS (
       |  SELECT DISTINCT nb.doc_id AS batch_id, ob.doc_id AS base_id
       |  FROM bbands nb JOIN obands ob
       |    ON nb.band_idx = ob.band_idx AND nb.band_key = ob.band_key${if (selfExcl) " AND nb.doc_id <> ob.doc_id" else ""}
       |),
       |dup AS (
       |  SELECT DISTINCT c.batch_id
       |  FROM cand c
       |  JOIN bshg sa ON c.batch_id = sa.doc_id
       |  JOIN oshg sb ON c.base_id = sb.doc_id
       |  WHERE ${jaccardDuck("sa.gs", "sb.gs")} >= 0.6
       |)""".stripMargin

  private def jaccardDuck(a: String, b: String): String =
    s"CAST(len(list_filter($a, v -> list_contains($b, v))) AS DOUBLE) / len(list_distinct(list_concat($a, $b)))"

  /** The full minhash pipeline (corpus → shingle hashes → signatures →
    * bands → verified pairs) as a CTE chain over a caller-supplied corpus
    * SQL, shared by the pair/cluster/edit/containment oracles (over the
    * near-dup corpus) and the blocking-recall oracle (over its id
    * subsample).
    */
  private def minhashCteFor(corpusSql: String): String =
    s"""corpus AS ($corpusSql),
       |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
       |sh AS (SELECT doc_id, $shinglesDuck AS shingles FROM tok),
       |shg AS (SELECT doc_id,
       |    list_distinct(list_transform(shingles, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs
       |  FROM sh),
       |mh AS (SELECT doc_id,
       |    $mhCols
       |  FROM shg),
       |bands AS (
       |  $bandUnion
       |),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |),
       |verified AS (
       |  SELECT p.id_a, p.id_b, ${jaccardDuck("sa.gs", "sb.gs")} AS jaccard
       |  FROM pairs p
       |  JOIN shg sa ON p.id_a = sa.doc_id
       |  JOIN shg sb ON p.id_b = sb.doc_id
       |)""".stripMargin

  private lazy val minhashVerifiedCte: String = minhashCteFor(NearCorpusSql)

  /** Quality-keeper doc_ids over an arbitrary corpus SQL — the
    * llm_quality_filter oracle's keep predicate as a reusable fragment,
    * so the composed funnel oracle states the identical gate.
    */
  private def qualityKeepIdsSql(corpusSql: String): String =
    s"""SELECT doc_id FROM (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS avg_token_len,
       |    1.0 - CAST(len(list_distinct(all3)) AS DOUBLE) / len(all3) AS rep3_frac,
       |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio
       |  FROM (SELECT doc_id, text, toks,
       |          list_transform(range(1, greatest(len(toks)-2, 1)+1), i -> array_to_string(list_slice(toks, i, i+2), ' ')) AS all3
       |        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM ($corpusSql) qt) qg) qs
       |) qf WHERE NOT (n_tokens < 10)
       |  AND NOT (avg_token_len < CAST(3.0 AS DOUBLE) OR avg_token_len > CAST(12.0 AS DOUBLE))
       |  AND NOT (rep3_frac > CAST(0.2 AS DOUBLE)) AND NOT (punct_ratio > CAST(0.3 AS DOUBLE))""".stripMargin

  /** The trained-classifier count chain as a reusable CTE fragment:
    * heuristic labels (the [[qualityKeepIdsSql]] gate restated as a
    * membership flag), per-token class occurrence counts and the
    * denormalized totals — ends with `qcnt(tok, c_pos, c_neg)` and
    * `qtot(t_pos, t_neg, vv)`. Shared by all four qclf oracles so none
    * can drift on the training arithmetic.
    */
  private lazy val qclfCtes: String =
    s"""qbase AS (SELECT doc_id, text FROM (${LlmOps.QclfCorpusSql}) qcc WHERE text IS NOT NULL),
       |qkeep AS (${qualityKeepIdsSql("SELECT doc_id, text FROM qbase")}),
       |qocc AS (SELECT b.doc_id, (k.doc_id IS NOT NULL) AS keep,
       |           unnest(string_split(b.text, ' ')) AS tok
       |         FROM qbase b LEFT JOIN qkeep k ON b.doc_id = k.doc_id),
       |qcnt AS (SELECT tok,
       |           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
       |           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
       |         FROM qocc GROUP BY tok),
       |qtot AS (SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos,
       |           CAST(SUM(c_neg) AS BIGINT) AS t_neg,
       |           CAST(count(*) AS BIGINT) AS vv FROM qcnt)""".stripMargin

  /** The classifier scoring chain over `batchSql` — per distinct
    * (doc, token), the Laplace-smoothed likelihood ratio tf-weighted in
    * one further multiply (the Spark scorer's [[LlmOps.docTokens]]
    * reduction restated as a (doc_id, tok) GROUP BY), value-sorted
    * fold, mean over the doc's token count, τ = 1.0 decision — ending
    * with `qsc(doc_id, n_toks, q_score, pred)`. States the Spark
    * scorer's arithmetic operation-for-operation (double lifts before
    * the products, tf multiply OUTSIDE the ratio's parenthesization,
    * matched-only fold, COALESCE for the all-unseen doc).
    */
  private def qclfScoreSql(batchSql: String): String =
    s"""$qclfCtes,
       |bb AS (SELECT doc_id, text FROM ($batchSql) bq WHERE text IS NOT NULL),
       |btf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM bb) bto
       |        GROUP BY doc_id, tok),
       |bmass AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM bb),
       |bm AS (SELECT t.doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_sort(list(
       |           CAST(t.tf AS DOUBLE) *
       |           ((CAST(c.c_pos + 1 AS DOUBLE) * CAST(qt.t_neg + qt.vv AS DOUBLE)) /
       |           (CAST(c.c_neg + 1 AS DOUBLE) * CAST(qt.t_pos + qt.vv AS DOUBLE)))))),
       |         (a, x) -> a + x) AS fs
       |       FROM btf t JOIN qcnt c USING (tok) CROSS JOIN qtot qt
       |       GROUP BY t.doc_id),
       |qsc AS (SELECT m.doc_id, m.n_toks,
       |          COALESCE(bm.fs, CAST(0.0 AS DOUBLE)) / CAST(m.n_toks AS DOUBLE) AS q_score,
       |          COALESCE(bm.fs, CAST(0.0 AS DOUBLE)) / CAST(m.n_toks AS DOUBLE) >= CAST(1.0 AS DOUBLE) AS pred
       |        FROM bmass m LEFT JOIN bm ON m.doc_id = bm.doc_id)""".stripMargin

  /** The stored-LM scoring chain as a reusable CTE fragment: model
    * counts (mc2/mc1) from the plain documents table (the memoized
    * artifact's training corpus), per-doc fluency over `survivorsSql`
    * with the matched-only value-sorted fold the Spark probe states
    * (unmatched transitions contribute 0 through the per-doc left
    * join). Ends with `fl(doc_id, f)` — shared by the funnel-LM and
    * delta-LM oracles so the two can never drift on the arithmetic.
    */
  /** The every-gate nightly chain (churn → quality → gram-bar decontam →
    * exact → stored-index near probe → LM scores) as one CTE prefix —
    * shared by the `llm_curate_delta_full` stage read-out and the
    * `llm_curate_delta_apply` survivor dump so the two can never drift
    * (the [[lmScoreCtes]] single-sourcing rule). Exposes `delta`, `q`,
    * `clean`, `batch`, `nearkept`, and `fl` for the SELECT to read.
    */
  private lazy val deltaFullCtes: String =
    s"""nxt AS (${LlmOps.SnapshotCurateSql}),
       |oldh AS (SELECT doc_id, md5(text) AS oh FROM documents),
       |delta AS (
       |  SELECT n.doc_id, n.text
       |  FROM (SELECT doc_id, text, md5(text) AS nh FROM nxt) n
       |  LEFT JOIN oldh o ON n.doc_id = o.doc_id
       |  WHERE o.doc_id IS NULL OR o.oh <> n.nh),
       |q AS (SELECT doc_id, text FROM delta
       |  WHERE doc_id IN (${qualityKeepIdsSql("SELECT doc_id, text FROM delta")})),
       |dcqt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM q),
       |dcqg AS (SELECT doc_id,
       |    list_distinct(list_transform($shinglesDuck, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs
       |  FROM dcqt),
       |dcbt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |         WHERE ${h56Duck("concat('split|', CAST(doc_id AS VARCHAR))")} % 100 >= 95),
       |dcbg AS (SELECT doc_id,
       |    list_distinct(list_transform($shinglesDuck, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs
       |  FROM dcbt),
       |bench AS (SELECT DISTINCT unnest(gs) AS h FROM dcbg),
       |qex AS (SELECT doc_id, unnest(gs) AS h FROM dcqg),
       |dirty AS (SELECT qex.doc_id FROM qex JOIN bench USING (h)
       |          GROUP BY qex.doc_id HAVING count(*) > 5),
       |clean AS (SELECT doc_id FROM dcqg
       |          WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
       |batch AS (SELECT doc_id, text FROM q
       |  WHERE doc_id IN (SELECT doc_id FROM clean)
       |    AND md5(text) NOT IN (SELECT md5(text) FROM documents)),
       |${incGateCtes("batch", "documents", selfExcl = true)},
       |nearkept AS (SELECT b.doc_id, b.text FROM batch b
       |  WHERE b.doc_id NOT IN (SELECT batch_id FROM dup)),
       |${lmScoreCtes("SELECT doc_id, text FROM nearkept")}""".stripMargin

  private def lmScoreCtes(survivorsSql: String): String =
    s"""mtk AS (SELECT string_split(text, ' ') AS t FROM documents),
       |mbi AS (SELECT t[i.i] AS w1, t[i.i + 1] AS w2
       |        FROM mtk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
       |        WHERE len(t) >= 2),
       |mc2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM mbi GROUP BY 1, 2),
       |mc1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM mc2 GROUP BY 1),
       |stk AS (SELECT doc_id, string_split(text, ' ') AS t FROM ($survivorsSql) sv),
       |sbi AS (SELECT doc_id, t[i.i] AS w1, t[i.i + 1] AS w2
       |        FROM stk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
       |        WHERE len(t) >= 2),
       |sbic AS (SELECT doc_id, w1, w2, count(*) AS n FROM sbi GROUP BY 1, 2, 3),
       |fm AS (SELECT s.doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_sort(list(CAST(s.n AS DOUBLE) * (CAST(mc2.c2 AS DOUBLE) / CAST(mc1.c1 AS DOUBLE))))),
       |         (a, v) -> a + v) AS fs
       |       FROM sbic s JOIN mc2 USING (w1, w2) JOIN mc1 USING (w1) GROUP BY s.doc_id),
       |nb AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS nbg FROM sbic GROUP BY 1),
       |fl AS (SELECT nb.doc_id, COALESCE(fm.fs, CAST(0.0 AS DOUBLE)) / CAST(nb.nbg AS DOUBLE) AS f
       |       FROM nb LEFT JOIN fm USING (doc_id))""".stripMargin

  /** [[lmScoreCtes]]'s per-language form over an arbitrary survivor set:
    * model counts keyed by lang from `documents`, the survivors of
    * `survivorsSql` (must expose doc_id, text, lang) scored under their
    * own language's transitions — ends with `lfl(doc_id, f)`. Used by
    * the per-language nightly oracle; kept separate from
    * [[lmLangScoreCtes]] (which scores the corpus against itself) so
    * each stays a drop-in for its global sibling.
    */
  private def lmLangScoreCtesFor(survivorsSql: String): String =
    s"""lmtk AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
       |lmbi AS (SELECT lang, t[i.i] AS w1, t[i.i + 1] AS w2
       |        FROM lmtk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
       |        WHERE len(t) >= 2),
       |lmc2 AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM lmbi GROUP BY 1, 2, 3),
       |lmc1 AS (SELECT lang, w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM lmc2 GROUP BY 1, 2),
       |lstk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM ($survivorsSql) sv),
       |lsbi AS (SELECT doc_id, lang, t[i.i] AS w1, t[i.i + 1] AS w2
       |        FROM lstk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
       |        WHERE len(t) >= 2),
       |lsbic AS (SELECT doc_id, lang, w1, w2, count(*) AS n FROM lsbi GROUP BY 1, 2, 3, 4),
       |lfm AS (SELECT s.doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |         list_sort(list(CAST(s.n AS DOUBLE) * (CAST(lmc2.c2 AS DOUBLE) / CAST(lmc1.c1 AS DOUBLE))))),
       |         (a, v) -> a + v) AS fs
       |       FROM lsbic s JOIN lmc2 ON s.lang = lmc2.lang AND s.w1 = lmc2.w1 AND s.w2 = lmc2.w2
       |       JOIN lmc1 ON s.lang = lmc1.lang AND s.w1 = lmc1.w1
       |       GROUP BY s.doc_id),
       |lnb AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS nbg FROM lsbic GROUP BY 1),
       |lfl AS (SELECT lnb.doc_id, COALESCE(lfm.fs, CAST(0.0 AS DOUBLE)) / CAST(lnb.nbg AS DOUBLE) AS f
       |       FROM lnb LEFT JOIN lfm USING (doc_id))""".stripMargin

  /** The PER-LANGUAGE scoring chain ending with
    * `lflc(doc_id, lang, nbg, fluency)` — [[lmScoreCtes]]'s arithmetic
    * with every model count keyed by lang; shared by the per-language
    * fluency and partition oracles (single-sourcing).
    */
  private lazy val lmLangScoreCtes: String =
    """ltk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      |lbi AS (SELECT doc_id, lang, t[i.i] AS w1, t[i.i + 1] AS w2
      |        FROM ltk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
      |        WHERE len(t) >= 2),
      |lbic AS (SELECT doc_id, lang, w1, w2, count(*) AS n FROM lbi GROUP BY 1, 2, 3, 4),
      |lc2 AS (SELECT lang, w1, w2, CAST(SUM(n) AS BIGINT) AS c2 FROM lbic GROUP BY 1, 2, 3),
      |lc1 AS (SELECT lang, w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM lc2 GROUP BY 1, 2),
      |lflc AS (SELECT doc_id, lang, CAST(SUM(n) AS BIGINT) AS nbg,
      |  list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list_sort(list(CAST(n AS DOUBLE) * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))))),
      |    (a, v) -> a + v) / CAST(SUM(n) AS DOUBLE) AS fluency
      |  FROM lbic JOIN lc2 USING (lang, w1, w2) JOIN lc1 USING (lang, w1)
      |  GROUP BY doc_id, lang)""".stripMargin

  /** The CCNet partition chain through per-doc bucket assignment, ending
    * with `prt(doc_id, fluency, bucket)` — shared by the partition and
    * partition-apply oracles so the two can never drift on the
    * calibration arithmetic (the [[lmScoreCtes]] discipline).
    */
  private lazy val lmPartitionCtes: String =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bi AS (SELECT doc_id, t[i.i] AS w1, t[i.i + 1] AS w2
      |       FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
      |       WHERE len(t) >= 2),
      |bic AS (SELECT doc_id, w1, w2, count(*) AS n FROM bi GROUP BY 1, 2, 3),
      |c2 AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c2 FROM bic GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      |flc AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS nbg,
      |  list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list_sort(list(CAST(n AS DOUBLE) * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))))),
      |    (a, v) -> a + v) / CAST(SUM(n) AS DOUBLE) AS fluency
      |  FROM bic JOIN c2 USING (w1, w2) JOIN c1 USING (w1) GROUP BY doc_id),
      |ref AS (SELECT fluency, doc_id FROM flc WHERE doc_id % 10 = 0),
      |cten AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM ref),
      |rr AS (SELECT fluency, doc_id,
      |       row_number() OVER (ORDER BY fluency, doc_id) AS rn FROM ref),
      |cut1 AS (SELECT fluency AS f1, doc_id AS d1 FROM rr, cten
      |         WHERE rn = (cnt + 2) // 3),
      |cut2 AS (SELECT fluency AS f2, doc_id AS d2 FROM rr, cten
      |         WHERE rn = (2 * cnt + 2) // 3),
      |prt AS (SELECT flc.doc_id, flc.fluency,
      |  CASE WHEN (flc.fluency, flc.doc_id) <= (f1, d1) THEN 'tail'
      |       WHEN (flc.fluency, flc.doc_id) <= (f2, d2) THEN 'middle'
      |       ELSE 'head' END AS bucket
      |  FROM flc, cut1, cut2)""".stripMargin

  /** The funnel's stage-2 survivor corpus (quality keepers ∩ exact-dedup
    * keepers over the near-dup harness corpus) — the corpus the near-dup
    * stage runs on, fed to [[minhashCteFor]] by the funnel oracle.
    */
  private lazy val funnelStage2Sql: String =
    s"""SELECT doc_id, text FROM ($NearCorpusSql) fc
       |WHERE doc_id IN (${qualityKeepIdsSql(NearCorpusSql)})
       |  AND doc_id IN (SELECT min(doc_id) FROM ($NearCorpusSql) fe GROUP BY md5(text))""".stripMargin

  /** The FULL pipeline's stage-3 survivor corpus (quality ∩ decontam-clean
    * ∩ exact keepers) — references the `clean` CTE the full-funnel oracle
    * defines ahead of it.
    */
  private lazy val funnelFullStage3Sql: String =
    s"""SELECT doc_id, text FROM ($NearCorpusSql) fc
       |WHERE doc_id IN (SELECT doc_id FROM clean)
       |  AND doc_id IN (SELECT min(doc_id) FROM ($NearCorpusSql) fe GROUP BY md5(text))""".stripMargin

  /** The COMPLETE pipeline's CTE chain (quality → gram-bar decontam vs
    * the ≥95 benchmark slice → exact keepers → near CC → stored-LM
    * scores), ending with `surv(doc_id, text)` and `fl(doc_id, f)` —
    * shared by the full-funnel and full-apply oracles so the two can
    * never drift. Callers prefix `WITH RECURSIVE`.
    */
  private lazy val fullPipelineCtes: String = fullPipelineCtesFor(clf = false)

  /** [[fullPipelineCtes]] parameterized on the trained-classifier gate:
    * with `clf` the stage-1 survivor set additionally intersects a
    * `clfkeep(doc_id)` CTE the caller prefixes (the [[qclfScoreSql]]
    * chain's τ survivors) — every later stage flows from `qtok`, so the
    * whole funnel downstream shrinks exactly like the Spark chain.
    */
  private def fullPipelineCtesFor(clf: Boolean): String = {
    val clfGate =
      if (clf) "\n           AND doc_id IN (SELECT doc_id FROM clfkeep)"
      else ""
    s"""qtok AS (SELECT doc_id, string_split(text, ' ') AS toks
       |         FROM (${LlmOps.NearCorpusSql}) qc
       |         WHERE doc_id IN (${qualityKeepIdsSql(LlmOps.NearCorpusSql)})$clfGate),
       |qgs AS (SELECT doc_id,
       |    list_distinct(list_transform($shinglesDuck, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs
       |  FROM qtok),
       |btok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |         WHERE ${h56Duck("concat('split|', CAST(doc_id AS VARCHAR))")} % 100 >= 95),
       |bgs AS (SELECT doc_id,
       |    list_distinct(list_transform($shinglesDuck, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs
       |  FROM btok),
       |bench AS (SELECT DISTINCT unnest(gs) AS h FROM bgs),
       |qex AS (SELECT doc_id, unnest(gs) AS h FROM qgs),
       |dirty AS (SELECT qex.doc_id FROM qex JOIN bench USING (h)
       |          GROUP BY qex.doc_id HAVING count(*) > 5),
       |clean AS (SELECT doc_id FROM qgs
       |          WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
       |${minhashCteFor(funnelFullStage3Sql)},
       |dup AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.6),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM dup
       |          UNION ALL SELECT id_b, id_a FROM dup),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |cc AS (
       |  SELECT node, node AS lbl FROM nodes
       |  UNION
       |  SELECT e.dst AS node, c.lbl FROM cc c JOIN edges e ON c.node = e.src
       |),
       |dropped AS (SELECT node FROM cc GROUP BY node HAVING min(lbl) <> node),
       |surv AS (SELECT c.doc_id, c.text FROM corpus c
       |         WHERE c.doc_id NOT IN (SELECT node FROM dropped)),
       |${lmScoreCtes("SELECT doc_id, text FROM surv")}""".stripMargin
  }

  /** The funnel's full CTE chain through near-dup keeper resolution —
    * `corpus` (stage-2 survivors) + verified pairs + the recursive-CC
    * `dropped` set, shared by the funnel-count and terminal-apply
    * oracles. Callers prefix `WITH RECURSIVE`.
    */
  private lazy val funnelCcCte: String =
    s"""${minhashCteFor(funnelStage2Sql)},
       |dup AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.6),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM dup
       |          UNION ALL SELECT id_b, id_a FROM dup),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |cc AS (
       |  SELECT node, node AS lbl FROM nodes
       |  UNION
       |  SELECT e.dst AS node, c.lbl FROM cc c JOIN edges e ON c.node = e.src
       |),
       |dropped AS (SELECT node FROM cc GROUP BY node HAVING min(lbl) <> node)""".stripMargin

  private val simBitSums = (0 until SimHashBits).map(j =>
    s"SUM(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(",\n    ")
  private val simAssemble = (0 until SimHashBits).map(j =>
    s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")

  private def dotDuck(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i]), (acc, v) -> acc + v)"
  private def ssdDuck(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> (($a)[i] - ($b)[i]) * (($a)[i] - ($b)[i])), (acc, v) -> acc + v)"

  /** The PQ index + full ADC ranking as a CTE chain ending in `r`
    * (qid, vec_id, adist, rnk) — shared by the PQ query (top-10) and the
    * two-stage refine query (shortlist 20 → exact re-rank). `base` stays
    * in scope for the re-rank's raw vectors.
    */
  private lazy val pqChainDuck: String = {
    val sd = LlmOps.PqSubDim
    s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |pri AS (SELECT vec_id, e, ${h56Duck("concat('pq|', CAST(vec_id AS VARCHAR))")} AS pri FROM base
       |        WHERE vec_id % ${LlmOps.PqTrainSliceMod} = 0),
       |pv0 AS (SELECT vec_id, e, pri FROM pri ORDER BY pri, vec_id LIMIT ${LlmOps.PqCentroids}),
       |pv AS (SELECT CAST(row_number() OVER (ORDER BY pri, vec_id) AS INT) - 1 AS cid, e AS ce FROM pv0),
       |sub AS (SELECT unnest(range(0, ${LlmOps.PqSubspaces})) AS s),
       |asn AS (SELECT b.vec_id, sub.s, p.cid,
       |    ${ssdDuck(s"list_slice(b.e, sub.s*$sd+1, sub.s*$sd+$sd)",
                     s"list_slice(p.ce, sub.s*$sd+1, sub.s*$sd+$sd)")} AS d
       |  FROM base b CROSS JOIN pv p CROSS JOIN sub),
       |codes AS (SELECT vec_id, s, cid FROM (
       |    SELECT vec_id, s, cid, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rk FROM asn)
       |  WHERE rk = 1),
       |ap AS (SELECT c.vec_id,
       |    flatten(list(list_slice(p.ce, c.s*$sd+1, c.s*$sd+$sd) ORDER BY c.s)) AS approx
       |  FROM codes c JOIN pv p USING (cid) GROUP BY c.vec_id),
       |q AS (SELECT vec_id AS qid, e AS qe FROM base WHERE vec_id < 8),
       |scored AS (SELECT q.qid, a.vec_id, ${ssdDuck("q.qe", "a.approx")} AS adist
       |  FROM ap a CROSS JOIN q WHERE a.vec_id <> q.qid),
       |r AS (SELECT qid, vec_id, adist,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS BIGINT) AS rnk
       |      FROM scored)""".stripMargin
  }
  /** The Lloyd-refined PQ codebook + full ADC ranking as a CTE chain
    * ending in `r` — [[pqChainDuck]] with the codebook replaced by
    * [[LlmOps.PqLloydIters]] unrolled k-means steps over the capped
    * training set (fixed-iteration loops unroll into CTE layers, the
    * mm_payload recursive-CTE precedent in reverse). Mirrors
    * LlmOps.pqPivotsLloyd step-for-step: hash-rank init, per-(vector,
    * subspace) argmin with (d, cid) ties, vec_id-ORDERED list_reduce
    * fold for each mean (the dotSql discipline — identical addition
    * order ⇒ identical doubles), empty cells coalesce to the previous
    * centroid, ORDER BY-inside-list() reassembly.
    */
  /** The Lloyd-refined codebook as CTE text: hash-rank init over the
    * capped training sample, then [[LlmOps.PqLloydIters]] unrolled
    * k-means layers, ending at `lpvN`. Assumes a `base` CTE with
    * (vec_id, e) is in scope. Shared by the PQ codebook oracle
    * (m subspaces) and the trained-cell IVF oracle (m = 1, the
    * full-vector quantizer) — one mirror of LlmOps.pqPivotsLloyd.
    */
  private def lloydPvDuck(m: Int, sd: Int, kc: Int): String = {
    val zeros = s"list_transform(range(1, $sd+1), x -> CAST(0.0 AS DOUBLE))"
    val init =
      s"""pri AS (SELECT vec_id, e, ${h56Duck("concat('pq|', CAST(vec_id AS VARCHAR))")} AS pri FROM base
         |        WHERE vec_id % ${LlmOps.PqTrainSliceMod} = 0),
         |trn AS (SELECT vec_id, e, pri FROM pri ORDER BY pri, vec_id LIMIT ${LlmOps.PqLloydTrainCap}),
         |pv0i AS (SELECT vec_id, e, pri FROM trn ORDER BY pri, vec_id LIMIT $kc),
         |lpv0 AS (SELECT CAST(row_number() OVER (ORDER BY pri, vec_id) AS INT) - 1 AS cid, e AS ce FROM pv0i),
         |sub AS (SELECT unnest(range(0, $m)) AS s),
         |tr AS (SELECT t.vec_id, sub.s, list_slice(t.e, sub.s*$sd+1, sub.s*$sd+$sd) AS seg FROM trn t CROSS JOIN sub)""".stripMargin
    val iters = (0 until LlmOps.PqLloydIters).map { i =>
      s"""sg$i AS (SELECT sub.s, p.cid, list_slice(p.ce, sub.s*$sd+1, sub.s*$sd+$sd) AS cseg FROM lpv$i p CROSS JOIN sub),
         |bs$i AS (SELECT vec_id, s, cid, seg FROM (
         |    SELECT t.vec_id, t.s, g.cid, t.seg,
         |      row_number() OVER (PARTITION BY t.vec_id, t.s ORDER BY ${ssdDuck("t.seg", "g.cseg")}, g.cid) AS rk
         |    FROM tr t JOIN sg$i g ON t.s = g.s)
         |  WHERE rk = 1),
         |mn$i AS (SELECT s, cid,
         |    list_transform(
         |      list_reduce(list_prepend($zeros, list(seg ORDER BY vec_id)),
         |        (acc, x) -> list_transform(range(1, len(acc)+1), j -> acc[j] + x[j])),
         |      v -> v / CAST(count(*) AS DOUBLE)) AS nseg
         |  FROM bs$i GROUP BY s, cid),
         |lpv${i + 1} AS (SELECT g.cid, flatten(list(coalesce(n.nseg, g.cseg) ORDER BY g.s)) AS ce
         |  FROM sg$i g LEFT JOIN mn$i n ON g.s = n.s AND g.cid = n.cid
         |  GROUP BY g.cid)""".stripMargin
    }
    (Seq(init) ++ iters).mkString(",\n")
  }

  private lazy val pqLloydChainDuck: String = {
    val sd = LlmOps.PqSubDim
    val m = LlmOps.PqSubspaces
    val init =
      s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${lloydPvDuck(m, sd, LlmOps.PqCentroids)}""".stripMargin
    val pv = s"lpv${LlmOps.PqLloydIters}"
    val tail =
      s"""asn AS (SELECT b.vec_id, sub.s, p.cid,
         |    ${ssdDuck(s"list_slice(b.e, sub.s*$sd+1, sub.s*$sd+$sd)",
                        s"list_slice(p.ce, sub.s*$sd+1, sub.s*$sd+$sd)")} AS d
         |  FROM base b CROSS JOIN $pv p CROSS JOIN sub),
         |codes AS (SELECT vec_id, s, cid FROM (
         |    SELECT vec_id, s, cid, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rk FROM asn)
         |  WHERE rk = 1),
         |ap AS (SELECT c.vec_id,
         |    flatten(list(list_slice(p.ce, c.s*$sd+1, c.s*$sd+$sd) ORDER BY c.s)) AS approx
         |  FROM codes c JOIN $pv p USING (cid) GROUP BY c.vec_id),
         |q AS (SELECT vec_id AS qid, e AS qe FROM base WHERE vec_id < $RecallNq),
         |scored AS (SELECT q.qid, a.vec_id, ${ssdDuck("q.qe", "a.approx")} AS adist
         |  FROM ap a CROSS JOIN q WHERE a.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS BIGINT) AS rnk
         |      FROM scored)""".stripMargin
    Seq(init, tail).mkString(",\n")
  }

  /** The trained-cell IVF chain as CTE text ending in `r` (qid, rnk,
    * vec_id, cell, cosine): full-vector Lloyd centroids (m = 1),
    * nearest-centroid cell assignment of the whole corpus, each of the
    * first `nq` vectors probing its own cell — mirrors
    * LlmOps.annIvfKm/annIvfKmIndexed step-for-step.
    */
  /** base + Lloyd centroids + corpus cell assignment — the CTE prefix
    * shared by the trained-cell probe chains and the drift gauge.
    */
  private def kmCellsDuck: String = {
    val dim = LlmOps.KmDim
    val pv = s"lpv${LlmOps.PqLloydIters}"
    s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |${lloydPvDuck(1, dim, LlmOps.KmCells)},
       |cl AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT b.vec_id, p.cid,
       |      row_number() OVER (PARTITION BY b.vec_id, sub.s ORDER BY ${ssdDuck(
              s"list_slice(b.e, sub.s*$dim+1, sub.s*$dim+$dim)",
              s"list_slice(p.ce, sub.s*$dim+1, sub.s*$dim+$dim)")}, p.cid) AS rk
       |    FROM base b CROSS JOIN $pv p CROSS JOIN sub)
       |  WHERE rk = 1)""".stripMargin
  }

  private def kmChainDuck(nq: Int, nprobe: Int = 1): String = {
    val pv = s"lpv${LlmOps.PqLloydIters}"
    val head =
      s"""$kmCellsDuck,
         |bn AS (SELECT b.vec_id, b.e, c.cell, sqrt(${dotDuck("b.e", "b.e")}) AS nrm
         |  FROM base b JOIN cl c USING (vec_id)),
         |q AS (SELECT vec_id AS qid, e AS qe, cell AS qcell, nrm AS qnrm FROM bn WHERE vec_id < $nq)""".stripMargin
    val scored =
      if (nprobe <= 1)
        s"""scored AS (SELECT q.qid, b.vec_id, b.cell, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
           |  FROM bn b JOIN q ON b.cell = q.qcell AND b.vec_id <> q.qid)""".stripMargin
      else
        s"""qp AS (SELECT vec_id AS qid, cid AS probe FROM (
           |    SELECT b.vec_id, p.cid,
           |      row_number() OVER (PARTITION BY b.vec_id ORDER BY ${ssdDuck("b.e", "p.ce")}, p.cid) AS rk
           |    FROM base b CROSS JOIN $pv p WHERE b.vec_id < $nq)
           |  WHERE rk <= $nprobe),
           |scored AS (SELECT q.qid, b.vec_id, b.cell, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
           |  FROM bn b JOIN qp ON b.cell = qp.probe JOIN q ON q.qid = qp.qid AND b.vec_id <> q.qid)""".stripMargin
    s"""$head,
       |$scored,
       |r AS (SELECT qid, vec_id, cell, cosine,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
       |      FROM scored)""".stripMargin
  }

  private def cosineDuck(a: String, b: String): String =
    s"(${dotDuck(a, b)}) / (sqrt(${dotDuck(a, a)}) * sqrt(${dotDuck(b, b)}))"
  private def signBucketDuck(e: String): String =
    "concat(" + (1 to 8).map(i =>
      s"CASE WHEN $e[$i] >= CAST(0.0 AS DOUBLE) THEN '1' ELSE '0' END").mkString(", ") + ")"

  /** Sign-bucketed cosine candidate pairs over the embeddings corpus —
    * shared by the cosine dedup oracle and the semantic-dedup (apply)
    * oracle. Yields CTEs `corpus` (vectors ∪ perturbed copies) and `p`
    * (id_a, id_b, cosine). */
  private lazy val cosinePairsCte: String =
    s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |corpus AS (
       |  SELECT vec_id, e FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_transform(range(1, len(e)+1), i -> e[i] + (i % 3 - 1) * CAST(0.01 AS DOUBLE))
       |  FROM base WHERE vec_id % 10 = 0
       |),
       |bk AS (SELECT vec_id, e, ${signBucketDuck("e")} AS bucket, sqrt(${dotDuck("e", "e")}) AS nrm FROM corpus),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${dotDuck("a.e", "b.e")} / (a.nrm * b.nrm) AS cosine
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |)""".stripMargin

  private val langs = TextAnalysis.Profiles.map(_._1)
  private def inListDuck(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")
  private val langScoreCols = TextAnalysis.Profiles.map { case (l, ws) =>
    s"CAST(len(list_filter(toks, v -> v IN (${inListDuck(ws)}))) AS BIGINT) AS s_$l"
  }.mkString(",\n    ")
  private val langAllZero = langs.map(l => s"s_$l = 0").mkString(" AND ")
  private val langArgmax = langs.map { l =>
    val isMax = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
    s"WHEN $isMax THEN '$l'"
  }.mkString("\n      ")

  private val enStops = inListDuck(TextAnalysis.EnStops)

  def oracle: Map[String, String] = oracleBase +
    ("llm_dedup_inc_mh_idx" -> oracleBase("llm_dedup_inc_minhash")) +
    ("llm_ann_ivf_idx" -> oracleBase("llm_ann_ivf")) +
    ("llm_ann_ivfpq_idx" -> oracleBase("llm_ann_ivfpq")) +
    ("llm_ann_ivfkm_idx" -> oracleBase("llm_ann_ivf_km")) +
    ("llm_ann_ivfkm_idx_dyn" -> oracleBase("llm_ann_ivf_km"))

  private lazy val oracleBase: Map[String, String] = Map(
    "llm_dedup_exact" ->
      s"""WITH corpus AS ($ExactCorpusSql)
         |SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies, md5(text) AS content_hash
         |FROM corpus GROUP BY md5(text) ORDER BY keeper_id""".stripMargin,

    "llm_dedup_minhash" ->
      s"""WITH $minhashVerifiedCte
         |SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,

    // terminal apply: corpus minus non-keeper cluster members (keeper =
    // component min id, the same recursive-CC fixpoint as llm_dedup_clusters)
    "llm_dedup_apply" ->
      s"""WITH RECURSIVE $minhashVerifiedCte,
         |dup AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.6),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM dup
         |          UNION ALL SELECT id_b, id_a FROM dup),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |cc AS (
         |  SELECT node, node AS lbl FROM nodes
         |  UNION
         |  SELECT e.dst AS node, c.lbl FROM cc c JOIN edges e ON c.node = e.src
         |),
         |dropped AS (SELECT node FROM cc GROUP BY node HAVING min(lbl) <> node)
         |SELECT c.doc_id, length(c.text) AS n_chars FROM corpus c
         |WHERE c.doc_id NOT IN (SELECT node FROM dropped) ORDER BY doc_id""".stripMargin,

    // candidates = Jaccard-tuned bands ∪ one-sided min-hash probes (each
    // doc's 3 smallest RARE shingle hashes vs a df-capped inverted index;
    // rarity filters BEFORE the min-k) — mirrors
    // LlmOps.dedupContainment's short-in-long blocking
    "llm_dedup_containment" ->
      s"""WITH $minhashVerifiedCte,
         |posting AS (SELECT doc_id, unnest(gs) AS g FROM shg),
         |rare AS (SELECT g FROM posting GROUP BY g HAVING count(*) <= ${LlmOps.OneSidedDfCap}),
         |rp AS (SELECT doc_id AS probe_id, g,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY g) AS rn
         |  FROM posting JOIN rare USING (g)),
         |probe AS (SELECT probe_id, g FROM rp WHERE rn <= ${LlmOps.OneSidedProbeK}),
         |onesided AS (
         |  SELECT DISTINCT least(pr.probe_id, po.doc_id) AS id_a,
         |    greatest(pr.probe_id, po.doc_id) AS id_b
         |  FROM probe pr JOIN posting po USING (g)
         |  WHERE pr.probe_id <> po.doc_id
         |),
         |cands AS (SELECT id_a, id_b FROM pairs UNION SELECT id_a, id_b FROM onesided),
         |cont AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_filter(sa.gs, v -> list_contains(sb.gs, v))) AS DOUBLE) /
         |      least(len(sa.gs), len(sb.gs)) AS containment
         |  FROM cands c
         |  JOIN shg sa ON c.id_a = sa.doc_id
         |  JOIN shg sb ON c.id_b = sb.doc_id
         |)
         |SELECT id_a, id_b, containment FROM cont WHERE containment >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    // connected components over the verified minhash pairs: min reachable
    // id per node via a recursive CTE (UNION-distinct guarantees the
    // fixpoint) — mirrors LlmOps.dedupClusters' min-label propagation.
    "llm_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashVerifiedCte,
         |dup AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.6),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM dup
         |          UNION ALL SELECT id_b, id_a FROM dup),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |cc AS (
         |  SELECT node, node AS lbl FROM nodes
         |  UNION
         |  SELECT e.dst AS node, c.lbl FROM cc c JOIN edges e ON c.node = e.src
         |)
         |SELECT node AS doc_id, min(lbl) AS cluster_id, min(lbl) = node AS is_keeper
         |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin,

    "llm_dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
         |th AS (SELECT doc_id, ${h56Duck("tok")} AS h FROM tok),
         |bits AS (SELECT doc_id,
         |    $simBitSums
         |  FROM th GROUP BY doc_id)
         |SELECT doc_id, CAST($simAssemble AS BIGINT) AS simhash
         |FROM bits ORDER BY doc_id""".stripMargin,

    "llm_dedup_ngram" ->
      s"""WITH corpus AS ($NearCorpusSql),
         |g AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(len(toks)-1, 1)+1), i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS grams
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM corpus)
         |),
         |gh AS (SELECT doc_id,
         |    list_distinct(list_transform(grams, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs
         |  FROM g),
         |mh AS (SELECT doc_id,
         |    $mhCols
         |  FROM gh),
         |bands AS (
         |  $bandUnion
         |),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id
         |),
         |p AS (
         |  SELECT pr.id_a, pr.id_b, ${jaccardDuck("a.gs", "b.gs")} AS jaccard
         |  FROM pairs pr
         |  JOIN gh a ON pr.id_a = a.doc_id
         |  JOIN gh b ON pr.id_b = b.doc_id
         |)
         |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "llm_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(toks)-1, 1)+1), i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS grams
        |  FROM t),
        |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |tot AS (SELECT count(*) AS n_docs FROM g),
        |boiler AS (
        |  SELECT gram FROM (SELECT gram, count(*) AS df FROM e GROUP BY gram), tot
        |  WHERE df * 100 >= n_docs * 5
        |),
        |nb AS (SELECT doc_id, count(*) AS n_boiler FROM e JOIN boiler USING (gram) GROUP BY doc_id)
        |SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  COALESCE(nb.n_boiler, 0) AS n_boiler,
        |  CAST(COALESCE(nb.n_boiler, 0) AS DOUBLE) / len(grams) AS boiler_frac
        |FROM g LEFT JOIN nb ON g.doc_id = nb.doc_id ORDER BY g.doc_id""".stripMargin,

    // every 10-token window hashed stride-1; only hashes with corpus-wide
    // occurrence >= 2 survive the join back — mirrors LlmOps.dedupSpans
    "llm_dedup_spans" ->
      s"""WITH corpus AS (${LlmOps.NearCorpusSql}),
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
         |p AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks)-${LlmOps.SpanWindow - 1}, 1)+1)) AS pos FROM t),
         |wins AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    ${h56Duck(s"array_to_string(list_slice(toks, pos, pos+${LlmOps.SpanWindow - 1}), ' ')")} AS h
         |  FROM p),
         |dup AS (SELECT h, count(*) AS n_occ FROM wins GROUP BY h HAVING count(*) >= 2)
         |SELECT doc_id, pos, h, n_occ FROM wins JOIN dup USING (h) ORDER BY doc_id, pos""".stripMargin,

    // keep the first occurrence of every duplicated window (rank within
    // hash by doc_id, pos), cut the rest, rebuild text from survivors.
    // DuckDB list lambdas index 1-based = Spark's j+1.
    "llm_dedup_spans_apply" ->
      s"""WITH corpus AS (${LlmOps.NearCorpusSql}),
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
         |p AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks)-${LlmOps.SpanWindow - 1}, 1)+1)) AS pos FROM t),
         |wins AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    ${h56Duck(s"array_to_string(list_slice(toks, pos, pos+${LlmOps.SpanWindow - 1}), ' ')")} AS h
         |  FROM p),
         |dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
         |occ AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS occ
         |  FROM wins JOIN dup USING (h)),
         |cuts AS (SELECT doc_id, list(pos) AS cut_pos FROM occ WHERE occ >= 2 GROUP BY doc_id),
         |k AS (SELECT t.doc_id, t.toks,
         |    CASE WHEN c.cut_pos IS NULL THEN t.toks
         |         ELSE list_filter(t.toks, (tk, i) -> len(list_filter(c.cut_pos, p -> i >= p AND i <= p+${LlmOps.SpanWindow - 1})) = 0)
         |    END AS keep_toks
         |  FROM t LEFT JOIN cuts c USING (doc_id))
         |SELECT doc_id, COALESCE(array_to_string(keep_toks, ' '), '') AS text_clean,
         |  CAST(len(toks) - len(keep_toks) AS BIGINT) AS n_tokens_cut
         |FROM k ORDER BY doc_id""".stripMargin,

    // the offsets chain of llm_pack_sequences fanned out to one row per
    // (sequence, doc) with the doc's 1-based token range in that sequence
    "llm_pack_apply" ->
      s"""WITH toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |      FROM toks),
         |f AS (SELECT doc_id, n_tokens, start_off,
         |        unnest(range(start_off // 2048, (start_off + n_tokens - 1) // 2048 + 1)) AS seq_id
         |      FROM c),
         |s AS (SELECT doc_id, seq_id,
         |        greatest(CAST(1 AS BIGINT), seq_id * 2048 - start_off + 1) AS tok_start,
         |        least(n_tokens, (seq_id + 1) * 2048 - start_off) AS tok_end
         |      FROM f)
         |SELECT doc_id, seq_id, tok_start, tok_end,
         |  tok_end - tok_start + 1 AS n_in_seq
         |FROM s ORDER BY doc_id, seq_id""".stripMargin,

    // the shard-decomposed prefix sum equals the plain global window sum
    // by construction, so the oracle states the math directly; the CAST
    // keeps DuckDB's SUM(BIGINT)→HUGEINT from drifting the schema
    "llm_pack_sequences" ->
      s"""WITH toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |      FROM toks)
         |SELECT doc_id, n_tokens, start_off,
         |  start_off // 2048 AS seq_first,
         |  (start_off + n_tokens - 1) // 2048 AS seq_last
         |FROM c ORDER BY doc_id""".stripMargin,

    // the token-balanced manifest over the same cumsum: shard k owns
    // the [k·total/8, (k+1)·total/8) token range
    "llm_pack_shards" ->
      s"""WITH toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |      FROM toks),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM toks)
         |SELECT doc_id, n_tokens, start_off,
         |  least((start_off * ${LlmOps.ShuffleShards}) // total, ${LlmOps.ShuffleShards - 1}) AS shard
         |FROM c, t ORDER BY doc_id""".stripMargin,

    "llm_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |g AS (SELECT doc_id, $shinglesDuck AS grams FROM t),
         |gh AS (SELECT doc_id,
         |    list_distinct(list_transform(grams, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs,
         |    ${h56Duck("concat('split|', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
         |  FROM g),
         |traing AS (SELECT DISTINCT unnest(gs) AS h FROM gh WHERE bucket < 90),
         |test AS (SELECT doc_id, gs FROM gh WHERE bucket >= 95),
         |e AS (SELECT doc_id, unnest(gs) AS h FROM test),
         |sh AS (SELECT doc_id, count(*) AS n_shared FROM e JOIN traing USING (h) GROUP BY doc_id)
         |SELECT test.doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
         |  COALESCE(sh.n_shared, 0) AS n_shared,
         |  COALESCE(sh.n_shared, 0) > 0 AS contaminated
         |FROM test LEFT JOIN sh ON test.doc_id = sh.doc_id ORDER BY test.doc_id""".stripMargin,

    // same weighted ordered fold as the operator: one product f·tf per
    // DISTINCT (doc, token), summed ascending from 0.0 — never expanded
    // back to per-occurrence volume on either engine
    // bigram fluency: prefix counts derive from the bigram table (sum
    // over w2), the per-doc sum folds value-sorted doubles — both
    // engines state the identical reduction
    "llm_fluency" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bi AS (SELECT doc_id, t[i.i] AS w1, t[i.i + 1] AS w2
        |       FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
        |       WHERE len(t) >= 2),
        |bic AS (SELECT doc_id, w1, w2, count(*) AS n FROM bi GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c2 FROM bic GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |  list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE),
        |      list_sort(list(CAST(n AS DOUBLE) * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))))),
        |    (a, v) -> a + v) / CAST(SUM(n) AS DOUBLE) AS fluency
        |FROM bic JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // stored-LM batch probe: the model (c2/c1) derives from the FULL
    // corpus on both engines; only the scored rows restrict to the %10
    // slice — the one WHERE is the entire difference from llm_fluency
    "llm_fluency_idx" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bi AS (SELECT doc_id, t[i.i] AS w1, t[i.i + 1] AS w2
        |       FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
        |       WHERE len(t) >= 2),
        |bic AS (SELECT doc_id, w1, w2, count(*) AS n FROM bi GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c2 FROM bic GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |  list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE),
        |      list_sort(list(CAST(n AS DOUBLE) * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))))),
        |    (a, v) -> a + v) / CAST(SUM(n) AS DOUBLE) AS fluency
        |FROM bic JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |WHERE doc_id % 10 = 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // stored-LM health gauge: the oracle re-derives the unpruned model's
    // table (the harness artifact) from the corpus and states the same
    // four aggregates the Spark side reads off the stored parquet
    "llm_lm_stats" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bi AS (SELECT t[i.i] AS w1, t[i.i + 1] AS w2
        |       FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
        |       WHERE len(t) >= 2),
        |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
        |SELECT CAST(count(DISTINCT w1) AS BIGINT) AS n_prefixes,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(c2) AS BIGINT) AS total_mass,
        |  CAST(MAX(c1) AS BIGINT) AS max_prefix_mass
        |FROM c2 JOIN c1 USING (w1)""".stripMargin,

    // the per-language gauge: the same rederivation with every count
    // keyed by lang — one row per language of the stored artifact
    "llm_lm_stats_lang" ->
      """WITH tk AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
        |bi AS (SELECT lang, t[i.i] AS w1, t[i.i + 1] AS w2
        |       FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
        |       WHERE len(t) >= 2),
        |c2 AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bi GROUP BY 1, 2, 3),
        |c1 AS (SELECT lang, w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1, 2)
        |SELECT lang, CAST(count(DISTINCT w1) AS BIGINT) AS n_prefixes,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(c2) AS BIGINT) AS total_mass,
        |  CAST(MAX(c1) AS BIGINT) AS max_prefix_mass
        |FROM c2 JOIN c1 USING (lang, w1)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // CCNet head/middle/tail: the full-corpus scoring chain is
    // llm_fluency's (model = the stored artifact's defining corpus, so
    // both engines derive identical integers); tercile cut TUPLES come
    // from the %10 calibration slice via row_number (k = ceil(cnt/3),
    // ceil(2cnt/3)), and the bucket CASE states the same
    // (fluency, doc_id) row-value comparison the Spark side writes as a
    // struct comparison — lexicographic in both dialects
    "llm_lm_partition" ->
      s"""WITH $lmPartitionCtes
        |SELECT doc_id, fluency, bucket FROM prt
        |ORDER BY doc_id""".stripMargin,

    // the selection rule over the SAME partition chain (single-sourced
    // CTEs, the lmScoreCtes discipline): head whole, middle at 500‰ by
    // the salted md5 priority, tail gone
    "llm_lm_partition_apply" ->
      s"""WITH $lmPartitionCtes
        |SELECT doc_id, fluency, bucket FROM prt
        |WHERE bucket = 'head' OR (bucket = 'middle' AND
        |  ${h56Duck("concat('lmsamp|', CAST(doc_id AS VARCHAR))")} % 1000 < 500)
        |ORDER BY doc_id""".stripMargin,

    // per-language stored-LM probe: llm_fluency_idx's chain with every
    // count keyed by lang (c2 per (lang,w1,w2), c1 per (lang,w1)) — a
    // doc's score is its probability under its own language's model
    "llm_fluency_lang" ->
      s"""WITH $lmLangScoreCtes
        |SELECT doc_id, lang, nbg AS n_bigrams, fluency
        |FROM lflc WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,

    // per-language CCNet partition: the same lang-keyed scoring chain,
    // cuts from the %10 slice via a lang-partitioned row_number
    // (k = ceil(n_l/3), ceil(2n_l/3) per language), bucket CASE as the
    // row-value comparison against the language's own cut tuples
    "llm_lm_partition_lang" ->
      s"""WITH $lmLangScoreCtes,
        |lref AS (SELECT lang, fluency, doc_id FROM lflc WHERE doc_id % 10 = 0),
        |lrk AS (SELECT lang, fluency, doc_id,
        |          row_number() OVER (PARTITION BY lang ORDER BY fluency, doc_id) AS rnk,
        |          count(*) OVER (PARTITION BY lang) AS cnt
        |        FROM lref),
        |lcuts AS (SELECT lang,
        |    max(CASE WHEN rnk = (cnt + 2) // 3 THEN fluency END) AS f1,
        |    max(CASE WHEN rnk = (cnt + 2) // 3 THEN doc_id END) AS d1,
        |    max(CASE WHEN rnk = (2 * cnt + 2) // 3 THEN fluency END) AS f2,
        |    max(CASE WHEN rnk = (2 * cnt + 2) // 3 THEN doc_id END) AS d2
        |  FROM lrk GROUP BY lang)
        |SELECT f.doc_id, f.lang, f.fluency,
        |  CASE WHEN c.f1 IS NULL THEN 'head'
        |       WHEN (f.fluency, f.doc_id) <= (c.f1, c.d1) THEN 'tail'
        |       WHEN (f.fluency, f.doc_id) <= (c.f2, c.d2) THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM lflc f LEFT JOIN lcuts c USING (lang) ORDER BY f.doc_id""".stripMargin,

    "llm_tok_freq" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
        |fr AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM fr)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE),
        |      list_sort(list(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) * CAST(tf AS DOUBLE)))),
        |    (a, v) -> a + v) / CAST(SUM(tf) AS DOUBLE) AS mean_tok_freq
        |FROM tf JOIN fr USING (tok), tot GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_keywords" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM tk) GROUP BY tok),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tk),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
        |  FROM tf JOIN dfreq USING (tok), nd
        |),
        |r AS (SELECT doc_id, tok, tf, df, score,
        |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rnk
        |      FROM scored)
        |SELECT doc_id, rnk, tok, tf, df, score FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    // the stored-IDF probe: batch tf over the %10 slice, df/N over the
    // FULL corpus (the frozen artifact's generation) — slice ⊆ model
    // corpus ⇒ inner-join coverage is total, same integers, same double
    // arithmetic as llm_keywords restricted to the slice
    "llm_keywords_idx" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk WHERE doc_id % 10 = 0 GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM tk) GROUP BY tok),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tk),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
        |  FROM tf JOIN dfreq USING (tok), nd
        |),
        |r AS (SELECT doc_id, tok, tf, df, score,
        |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rnk
        |      FROM scored)
        |SELECT doc_id, rnk, tok, tf, df, score FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    // the per-language stored-IDF probe: batch tf over the %10 slice,
    // df/N per LANGUAGE over the full corpus (the frozen artifact's
    // keying) — slice ⊆ model corpus ⇒ inner-join coverage total, same
    // integers, same left-to-right double arithmetic as llm_keywords
    "llm_keywords_lang" ->
      """WITH base AS (SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL),
        |tk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM base),
        |tf AS (SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM tk WHERE doc_id % 10 = 0 GROUP BY doc_id, lang, tok),
        |dfreq AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS df
        |          FROM (SELECT DISTINCT doc_id, lang, tok FROM tk) GROUP BY lang, tok),
        |nd AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |       FROM base GROUP BY lang),
        |scored AS (
        |  SELECT tf.doc_id, tf.lang, tf.tok, tf.tf, d.df,
        |    CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE) AS score
        |  FROM tf JOIN dfreq d ON tf.lang = d.lang AND tf.tok = d.tok
        |  JOIN nd n ON tf.lang = n.lang
        |),
        |r AS (SELECT doc_id, lang, tok, tf, df, score,
        |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rnk
        |      FROM scored)
        |SELECT doc_id, lang, rnk, tok, tf, df, score FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    // the per-language df table re-derived, reduced to the (lang, tb)
    // gauge — the per-language builder's layout restated
    "llm_idf_stats_lang" ->
      s"""WITH base AS (SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL),
         |tk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM base),
         |dfreq AS (SELECT lang, tok, count(*) AS df
         |          FROM (SELECT DISTINCT doc_id, lang, tok FROM tk) GROUP BY lang, tok)
         |SELECT lang, CAST(${h56Duck("concat('idf|', tok)")} % ${LlmOps.IdfBuckets} AS BIGINT) AS tb,
         |  count(*) AS n_toks, max(df) AS max_df, CAST(sum(df) AS BIGINT) AS df_rows
         |FROM dfreq GROUP BY 1, 2 ORDER BY lang, tb""".stripMargin,

    // the df table re-derived from the corpus, reduced to the per-tb
    // gauge — the builder's salted bucket restated
    "llm_idf_stats" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |dfreq AS (SELECT tok, count(*) AS df
         |          FROM (SELECT DISTINCT doc_id, tok FROM tk) GROUP BY tok)
         |SELECT CAST(${h56Duck("concat('idf|', tok)")} % ${LlmOps.IdfBuckets} AS BIGINT) AS tb,
         |  count(*) AS n_toks, max(df) AS max_df, CAST(sum(df) AS BIGINT) AS df_rows
         |FROM dfreq GROUP BY 1 ORDER BY tb""".stripMargin,

    // corpus-as-its-own-model classification: the training chain and
    // the scoring chain over the same junk-injected fixture corpus
    "llm_quality_clf" ->
      s"""WITH ${qclfScoreSql(LlmOps.QclfCorpusSql)}
         |SELECT doc_id, n_toks, q_score, pred FROM qsc ORDER BY doc_id""".stripMargin,

    // stored probe: the %10 slice scores against the full-corpus
    // artifact — slice ⊆ training corpus ⇒ same integers, same fold
    "llm_quality_clf_idx" ->
      s"""WITH ${qclfScoreSql("SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0")}
         |SELECT doc_id, n_toks, q_score, pred FROM qsc ORDER BY doc_id""".stripMargin,

    // per-language classifier probe: the lang-keyed chain — counts per
    // (lang, tok), class totals per LANGUAGE, ratios joined on
    // (lang, tok) — over the lang-carrying label fixture, scoring the
    // %10 documents slice
    "llm_quality_clf_lang" ->
      s"""WITH lqb AS (SELECT doc_id, text, lang FROM (${LlmOps.QclfCorpusLangSql}) qcc
         |             WHERE text IS NOT NULL),
         |lqk AS (${qualityKeepIdsSql("SELECT doc_id, text FROM lqb")}),
         |lqo AS (SELECT b.lang, (k.doc_id IS NOT NULL) AS keep,
         |          unnest(string_split(b.text, ' ')) AS tok
         |        FROM lqb b LEFT JOIN lqk k ON b.doc_id = k.doc_id),
         |lqc AS (SELECT lang, tok,
         |          CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         |          CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
         |        FROM lqo GROUP BY 1, 2),
         |lqt AS (SELECT lang, CAST(SUM(c_pos) AS BIGINT) AS t_pos,
         |          CAST(SUM(c_neg) AS BIGINT) AS t_neg,
         |          CAST(count(*) AS BIGINT) AS vv FROM lqc GROUP BY lang),
         |lbb AS (SELECT doc_id, text, lang FROM documents
         |        WHERE doc_id % 10 = 0 AND text IS NOT NULL),
         |lbt AS (SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS tf
         |        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |              FROM lbb) lbo GROUP BY doc_id, lang, tok),
         |lbm AS (SELECT doc_id, lang,
         |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM lbb),
         |lfm AS (SELECT t.doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list_sort(list(
         |            CAST(t.tf AS DOUBLE) *
         |            ((CAST(c.c_pos + 1 AS DOUBLE) * CAST(qt.t_neg + qt.vv AS DOUBLE)) /
         |            (CAST(c.c_neg + 1 AS DOUBLE) * CAST(qt.t_pos + qt.vv AS DOUBLE)))))),
         |          (a, x) -> a + x) AS fs
         |        FROM lbt t JOIN lqc c ON t.lang = c.lang AND t.tok = c.tok
         |        JOIN lqt qt ON t.lang = qt.lang
         |        GROUP BY t.doc_id)
         |SELECT m.doc_id, m.lang, m.n_toks,
         |  COALESCE(f.fs, CAST(0.0 AS DOUBLE)) / CAST(m.n_toks AS DOUBLE) AS q_score,
         |  COALESCE(f.fs, CAST(0.0 AS DOUBLE)) / CAST(m.n_toks AS DOUBLE) >= CAST(1.0 AS DOUBLE) AS pred
         |FROM lbm m LEFT JOIN lfm f ON m.doc_id = f.doc_id
         |ORDER BY m.doc_id""".stripMargin,

    // the weight table re-derived from the corpus, reduced to the
    // per-tb gauge — the builder's salted bucket restated
    "llm_qclf_stats" ->
      s"""WITH $qclfCtes
         |SELECT CAST(${h56Duck("concat('qclf|', tok)")} % ${LlmOps.QclfBuckets} AS BIGINT) AS tb,
         |  count(*) AS n_toks, CAST(SUM(c_pos) AS BIGINT) AS pos_occ,
         |  CAST(SUM(c_neg) AS BIGINT) AS neg_occ
         |FROM qcnt GROUP BY 1 ORDER BY tb""".stripMargin,

    // distillation fidelity: the τ decision against the heuristic keep
    // flag, as confusion counts
    "llm_qclf_agreement" ->
      s"""WITH ${qclfScoreSql(LlmOps.QclfCorpusSql)},
         |qlab AS (SELECT b.doc_id, (k.doc_id IS NOT NULL) AS keep
         |         FROM qbase b LEFT JOIN qkeep k ON b.doc_id = k.doc_id)
         |SELECT l.keep, s.pred, count(*) AS n_docs
         |FROM qsc s JOIN qlab l ON s.doc_id = l.doc_id
         |GROUP BY 1, 2 ORDER BY keep, pred""".stripMargin,

    "llm_dedup_cosine" ->
      s"""WITH $cosinePairsCte
         |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.99 ORDER BY id_a, id_b""".stripMargin,

    // semantic dedup: the cosine pairs resolved through the same
    // recursive-CC fixpoint as llm_dedup_apply, then the vector corpus
    // minus non-keepers — dedupClusters/dedupApply are pair-source-generic
    "llm_dedup_semantic" ->
      s"""WITH RECURSIVE $cosinePairsCte,
         |dup AS (SELECT id_a, id_b FROM p WHERE cosine >= 0.99),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM dup
         |          UNION ALL SELECT id_b, id_a FROM dup),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |cc AS (
         |  SELECT node, node AS lbl FROM nodes
         |  UNION
         |  SELECT e.dst AS node, c.lbl FROM cc c JOIN edges e ON c.node = e.src
         |),
         |dropped AS (SELECT node FROM cc GROUP BY node HAVING min(lbl) <> node)
         |SELECT c.vec_id FROM corpus c
         |WHERE c.vec_id NOT IN (SELECT node FROM dropped) ORDER BY vec_id""".stripMargin,

    // semantic ingest gate over the stored base-slice cell index: batch
    // vectors whose cell-restricted cosine against any base vector
    // reaches 0.99 drop; the arithmetic mirrors the Spark fold term for
    // term so the survivor set is bit-exact
    "llm_dedup_sem_idx" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings WHERE vec_id < 400),
         |batch AS (${LlmOps.IncrementalVecBatchSql}),
         |bn AS (SELECT vec_id, e, label, sqrt(${dotDuck("e", "e")}) AS nrm FROM batch),
         |bs AS (SELECT vec_id, e, label, sqrt(${dotDuck("e", "e")}) AS nrm FROM base),
         |dup AS (SELECT DISTINCT b.vec_id FROM bn b JOIN bs o ON b.label = o.label
         |        WHERE ${dotDuck("b.e", "o.e")} / (b.nrm * o.nrm) >= 0.99)
         |SELECT vec_id FROM batch WHERE vec_id NOT IN (SELECT vec_id FROM dup) ORDER BY vec_id""".stripMargin,

    "llm_ann_topk" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |based AS (SELECT vec_id, e, sqrt(${dotDuck("e", "e")}) AS nrm FROM base),
         |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm FROM based WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.qid, b.vec_id, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM based b CROSS JOIN q WHERE b.vec_id <> q.qid
         |),
         |r AS (SELECT qid, vec_id, cosine,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |      FROM scored)
         |SELECT qid, rnk, vec_id, cosine FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,

    "llm_ann_lsh" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |based AS (SELECT vec_id, e, ${signBucketDuck("e")} AS bucket, sqrt(${dotDuck("e", "e")}) AS nrm FROM base),
         |q AS (SELECT vec_id AS qid, e AS qe, bucket AS qbucket, nrm AS qnrm FROM based WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.qid, b.vec_id, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM based b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.qid
         |),
         |r AS (SELECT qid, vec_id, cosine,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |      FROM scored)
         |SELECT qid, rnk, vec_id, cosine FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // annLsh widened to Hamming-1 probe buckets: probe keys = own bucket +
    // the 8 one-bit flips, identical flip expression on both engines
    "llm_ann_multiprobe" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |based AS (SELECT vec_id, e, ${signBucketDuck("e")} AS bucket, sqrt(${dotDuck("e", "e")}) AS nrm FROM base),
         |q AS (SELECT vec_id AS qid, e AS qe, bucket AS qbucket, nrm AS qnrm FROM based WHERE vec_id < 8),
         |probes AS (
         |  SELECT qid, qe, qnrm, unnest([qbucket, ${(1 to 8).map(i => LlmOps.flipBitSql("qbucket", i, 8)).mkString(", ")}]) AS probe
         |  FROM q
         |),
         |scored AS (
         |  SELECT p.qid, b.vec_id, ${dotDuck("p.qe", "b.e")} / (p.qnrm * b.nrm) AS cosine
         |  FROM based b JOIN probes p ON b.bucket = p.probe AND b.vec_id <> p.qid
         |),
         |r AS (SELECT qid, vec_id, cosine,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |      FROM scored)
         |SELECT qid, rnk, vec_id, cosine FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // PQ mirrored step-for-step: hash-rank codebook, per-subspace argmin
    // with (d, cid) ties, ORDER BY-inside-list() to fix the reconstruction
    // order, asymmetric-distance top-k. ssd folds match Spark's exactly.
    "llm_ann_pq" ->
      s"""WITH $pqChainDuck
         |SELECT qid, rnk, vec_id, adist FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,

    // recall@5 of the LSH index vs brute force: both chains inline, the
    // measurement is a per-query count over a left join
    "llm_ann_recall" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |based AS (SELECT vec_id, e, ${signBucketDuck("e")} AS bucket, sqrt(${dotDuck("e", "e")}) AS nrm FROM base),
         |q AS (SELECT vec_id AS qid, e AS qe, bucket AS qbucket, nrm AS qnrm FROM based WHERE vec_id < 8),
         |exs AS (
         |  SELECT q.qid, b.vec_id, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM based b CROSS JOIN q WHERE b.vec_id <> q.qid
         |),
         |exk AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk FROM exs)
         |  WHERE rnk <= 5),
         |aps AS (
         |  SELECT q.qid, b.vec_id, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM based b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.qid
         |),
         |apk AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk FROM aps)
         |  WHERE rnk <= 5)
         |SELECT e.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
         |  CAST(count(a.vec_id) AS DOUBLE) / 5 AS recall_at_k
         |FROM exk e LEFT JOIN apk a ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    // recall@5 of the multi-probe index vs brute force: llm_ann_recall's
    // chain with the approximate side widened to the Hamming-1 probe set
    // (same unnest'd flip expressions as llm_ann_multiprobe)
    "llm_ann_recall_mp" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |based AS (SELECT vec_id, e, ${signBucketDuck("e")} AS bucket, sqrt(${dotDuck("e", "e")}) AS nrm FROM base),
         |q AS (SELECT vec_id AS qid, e AS qe, bucket AS qbucket, nrm AS qnrm FROM based WHERE vec_id < 8),
         |exs AS (
         |  SELECT q.qid, b.vec_id, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM based b CROSS JOIN q WHERE b.vec_id <> q.qid
         |),
         |exk AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk FROM exs)
         |  WHERE rnk <= 5),
         |probes AS (
         |  SELECT qid, qe, qnrm, unnest([qbucket, ${(1 to 8).map(i => LlmOps.flipBitSql("qbucket", i, 8)).mkString(", ")}]) AS probe
         |  FROM q
         |),
         |aps AS (
         |  SELECT p.qid, b.vec_id, ${dotDuck("p.qe", "b.e")} / (p.qnrm * b.nrm) AS cosine
         |  FROM based b JOIN probes p ON b.bucket = p.probe AND b.vec_id <> p.qid
         |),
         |apk AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk FROM aps)
         |  WHERE rnk <= 5)
         |SELECT e.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
         |  CAST(count(a.vec_id) AS DOUBLE) / 5 AS recall_at_k
         |FROM exk e LEFT JOIN apk a ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    // recall@5 of the full-corpus ADC ranking (the PQ chain's r) vs the
    // exact-cosine truth — renamed exact-side CTEs avoid colliding with
    // the chain's base/q
    "llm_ann_recall_pq" ->
      s"""WITH $pqChainDuck,
         |nbx AS (SELECT vec_id, e, sqrt(${dotDuck("e", "e")}) AS nrm FROM base),
         |qx AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm FROM nbx WHERE vec_id < 8),
         |exs AS (
         |  SELECT q.qid, b.vec_id, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM nbx b CROSS JOIN qx q WHERE b.vec_id <> q.qid
         |),
         |exk AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk FROM exs)
         |  WHERE rnk <= 5),
         |apk AS (SELECT qid, vec_id FROM r WHERE rnk <= 5)
         |SELECT e.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
         |  CAST(count(a.vec_id) AS DOUBLE) / 5 AS recall_at_k
         |FROM exk e LEFT JOIN apk a ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    // recall@5 of the Lloyd-codebook ADC ranking vs exact cosine — the
    // data-adaptive complement of llm_ann_recall_pq, at 64 queries (a
    // recall delta needs statistical mass; see the queries-map note)
    "llm_ann_recall_pq_lloyd" ->
      s"""WITH $pqLloydChainDuck,
         |nbx AS (SELECT vec_id, e, sqrt(${dotDuck("e", "e")}) AS nrm FROM base),
         |qx AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm FROM nbx WHERE vec_id < 64),
         |exs AS (
         |  SELECT q.qid, b.vec_id, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM nbx b CROSS JOIN qx q WHERE b.vec_id <> q.qid
         |),
         |exk AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk FROM exs)
         |  WHERE rnk <= 5),
         |apk AS (SELECT qid, vec_id FROM r WHERE rnk <= 5)
         |SELECT e.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
         |  CAST(count(a.vec_id) AS DOUBLE) / 5 AS recall_at_k
         |FROM exk e LEFT JOIN apk a ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    // trained-cell IVF: full-vector Lloyd centroids, corpus assigned to
    // nearest-centroid cells, each query probing its own cell
    "llm_ann_ivf_km" ->
      s"""WITH ${kmChainDuck(IdxNq)}
         |SELECT qid, rnk, vec_id, cell, cosine FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // the stored trained-cell probe at nprobe = 2: same chain with each
    // query joining its two nearest cells
    "llm_ann_ivfkm_idx_p2" ->
      s"""WITH ${kmChainDuck(IdxNq, nprobe = 2)}
         |SELECT qid, rnk, vec_id, cell, cosine FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // cell-drift gauge over the trained-cell index: per cell, members
    // beyond the ssd budget from their own centroid + the worst offender
    "llm_km_drift" ->
      s"""WITH $kmCellsDuck
         |SELECT CAST(c.cell AS BIGINT) AS cell,
         |  CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(sum(CASE WHEN ${ssdDuck("b.e", "p.ce")} > CAST(2.0 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_high_err,
         |  max(${ssdDuck("b.e", "p.ce")}) AS max_err
         |FROM cl c JOIN base b USING (vec_id) JOIN lpv${LlmOps.PqLloydIters} p ON c.cell = p.cid
         |GROUP BY c.cell ORDER BY cell""".stripMargin,

    // recall@5 (64 queries) of the trained-cell IVF at nprobe = 2
    "llm_ann_recall_ivfkm_p2" ->
      s"""WITH ${kmChainDuck(RecallNq, nprobe = 2)},
         |qx AS (SELECT qid, qe, qnrm FROM q),
         |exs AS (
         |  SELECT q.qid, b.vec_id, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM bn b CROSS JOIN qx q WHERE b.vec_id <> q.qid
         |),
         |exk AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk FROM exs)
         |  WHERE rnk <= 5),
         |apk AS (SELECT qid, vec_id FROM r WHERE rnk <= 5)
         |SELECT e.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
         |  CAST(count(a.vec_id) AS DOUBLE) / 5 AS recall_at_k
         |FROM exk e LEFT JOIN apk a ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    // recall@5 (64 queries) of the trained-cell IVF at nprobe = 3 —
    // the quality-tier dial (same chain, three nearest cells per query)
    "llm_ann_recall_ivfkm_p3" ->
      s"""WITH ${kmChainDuck(RecallNq, nprobe = 3)},
         |qx AS (SELECT qid, qe, qnrm FROM q),
         |exs AS (
         |  SELECT q.qid, b.vec_id, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM bn b CROSS JOIN qx q WHERE b.vec_id <> q.qid
         |),
         |exk AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk FROM exs)
         |  WHERE rnk <= 5),
         |apk AS (SELECT qid, vec_id FROM r WHERE rnk <= 5)
         |SELECT e.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
         |  CAST(count(a.vec_id) AS DOUBLE) / 5 AS recall_at_k
         |FROM exk e LEFT JOIN apk a ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    // recall@5 (64 queries) of the trained-cell IVF vs exact cosine
    "llm_ann_recall_ivfkm" ->
      s"""WITH ${kmChainDuck(RecallNq)},
         |qx AS (SELECT qid, qe, qnrm FROM q),
         |exs AS (
         |  SELECT q.qid, b.vec_id, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM bn b CROSS JOIN qx q WHERE b.vec_id <> q.qid
         |),
         |exk AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk FROM exs)
         |  WHERE rnk <= 5),
         |apk AS (SELECT qid, vec_id FROM r WHERE rnk <= 5)
         |SELECT e.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
         |  CAST(count(a.vec_id) AS DOUBLE) / 5 AS recall_at_k
         |FROM exk e LEFT JOIN apk a ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    // IVF-PQ: the PQ chain's reconstructions, candidates pruned to the
    // query's coarse cell (label) before ADC ranking
    "llm_ann_ivfpq" ->
      s"""WITH $pqChainDuck,
         |lb AS (SELECT vec_id, label FROM embeddings),
         |qq AS (SELECT q.qid, q.qe, l.label AS qlabel FROM q JOIN lb l ON q.qid = l.vec_id),
         |sc AS (SELECT q.qid, a.vec_id, lb.label, ${ssdDuck("q.qe", "a.approx")} AS adist
         |  FROM ap a JOIN lb ON a.vec_id = lb.vec_id
         |  JOIN qq q ON lb.label = q.qlabel AND a.vec_id <> q.qid),
         |rr AS (SELECT qid, vec_id, label, adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS BIGINT) AS rnk
         |      FROM sc)
         |SELECT qid, rnk, vec_id, label, adist FROM rr WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // two-stage retrieval: the PQ chain's shortlist (rnk <= 20) re-ranked
    // by exact cosine over raw vectors — same dot folds as llm_ann_topk
    "llm_ann_pq_refine" ->
      s"""WITH $pqChainDuck,
         |nb AS (SELECT vec_id, e, sqrt(${dotDuck("e", "e")}) AS nrm FROM base),
         |qq AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm FROM nb WHERE vec_id < 8),
         |sc AS (SELECT s.qid, s.vec_id,
         |    ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM r s JOIN nb b USING (vec_id) JOIN qq q USING (qid)
         |  WHERE s.rnk <= 20),
         |rr AS (SELECT qid, vec_id, cosine,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |      FROM sc)
         |SELECT qid, rnk, vec_id, cosine FROM rr WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "llm_quantize_int8" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |    list_max(list_transform(e, v -> abs(v))) AS mx
        |  FROM base),
        |sc AS (SELECT vec_id, e,
        |    CASE WHEN mx = CAST(0.0 AS DOUBLE) THEN CAST(1.0 AS DOUBLE) ELSE mx / CAST(127.0 AS DOUBLE) END AS scale
        |  FROM s),
        |q AS (SELECT vec_id, e, scale,
        |    list_transform(e, v -> CAST(round(v / scale) AS INTEGER)) AS q
        |  FROM sc)
        |SELECT vec_id, scale, array_to_string(q, ',') AS q,
        |  list_max(list_transform(range(1, len(e)+1), i -> abs(e[i] - q[i] * scale))) AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin,

    "llm_ann_quantized" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e, list_max(list_transform(e, v -> abs(v))) AS mx FROM base),
        |sc AS (SELECT vec_id, e,
        |    CASE WHEN mx = CAST(0.0 AS DOUBLE) THEN CAST(1.0 AS DOUBLE) ELSE mx / CAST(127.0 AS DOUBLE) END AS scale
        |  FROM s),
        |codes AS (SELECT vec_id, list_transform(e, v -> CAST(round(v / scale) AS BIGINT)) AS q FROM sc),
        |qs AS (SELECT vec_id AS qid, q AS qq FROM codes WHERE vec_id < 8),
        |scored AS (
        |  SELECT qs.qid, c.vec_id,
        |    list_reduce(list_transform(range(1, len(c.q)+1), i -> c.q[i] * qs.qq[i]), (acc, v) -> acc + v) AS idot
        |  FROM codes c CROSS JOIN qs WHERE c.vec_id <> qs.qid
        |),
        |r AS (SELECT qid, vec_id, idot,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY idot DESC, vec_id) AS BIGINT) AS rnk
        |      FROM scored)
        |SELECT qid, rnk, vec_id, idot FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,

    "llm_ann_ivf" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
         |based AS (SELECT vec_id, e, label, sqrt(${dotDuck("e", "e")}) AS nrm FROM base),
         |q AS (SELECT vec_id AS qid, e AS qe, label AS qlabel, nrm AS qnrm FROM based WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.qid, b.vec_id, b.label, ${dotDuck("q.qe", "b.e")} / (q.qnrm * b.nrm) AS cosine
         |  FROM based b JOIN q ON b.label = q.qlabel AND b.vec_id <> q.qid
         |),
         |r AS (SELECT qid, vec_id, label, cosine,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |      FROM scored)
         |SELECT qid, rnk, vec_id, label, cosine FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "llm_text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |s AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(length(text) AS BIGINT) AS len_chars,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS avg_token_len,
         |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS punct_n,
         |    CAST(len(list_filter(toks, v -> v IN ($enStops))) AS DOUBLE) / len(toks) AS stop_ratio
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, len_chars, avg_token_len, punct_n, stop_ratio,
         |  least(CAST(1.0 AS DOUBLE), n_tokens / CAST(50.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)
         |    + stop_ratio * CAST(0.3 AS DOUBLE)
         |    + (CAST(1.0 AS DOUBLE) - punct_n / CAST(greatest(len_chars, 1) AS DOUBLE)) * CAST(0.2 AS DOUBLE) AS quality_score
         |FROM s ORDER BY doc_id""".stripMargin,

    "llm_lang_id" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |    $langScoreCols
         |  FROM t)
         |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
         |  CASE WHEN $langAllZero THEN 'und'
         |      $langArgmax
         |      ELSE 'und' END AS predicted,
         |  lang AS labeled
         |FROM s ORDER BY doc_id""".stripMargin,

    "llm_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, text, $shinglesDuck AS shingles FROM t)
         |SELECT doc_id,
         |  list_reduce(list_transform(regexp_extract_all(text, '.'), c -> CAST(ascii(c) AS BIGINT)), (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_fp,
         |  list_min(list_transform(shingles, s -> ${h56Duck("s")})) AS min_shingle_fp
         |FROM sh ORDER BY doc_id""".stripMargin,

    "llm_sample_hash" ->
      s"""SELECT doc_id, ${h56Duck("concat('sample|', CAST(doc_id AS VARCHAR))")} AS pri
         |FROM documents ORDER BY pri, doc_id LIMIT 100""".stripMargin,

    "llm_sample_stratified" ->
      s"""WITH pri AS (
         |  SELECT source, doc_id,
         |    ${h56Duck("concat('sample|', CAST(doc_id AS VARCHAR))")} AS pri
         |  FROM documents
         |)
         |SELECT source, doc_id, pri, rnk FROM (
         |  SELECT source, doc_id, pri,
         |    row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rnk
         |  FROM pri)
         |WHERE rnk <= 25 ORDER BY source, doc_id""".stripMargin,

    // one-pass corpus dashboard over the injected-dup corpus; every CAST
    // mirrors Spark's types (sum→BIGINT, ratio divisions in DOUBLE)
    "llm_corpus_stats" ->
      s"""WITH corpus AS (${LlmOps.ExactCorpusSql}),
         |j AS (SELECT c.doc_id, c.text, d.source, d.lang
         |      FROM corpus c JOIN documents d ON c.doc_id % 20000000 = d.doc_id),
         |t AS (SELECT doc_id, text, source, lang,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM j)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  count(DISTINCT source) AS n_sources,
         |  count(DISTINCT lang) AS n_langs,
         |  count(DISTINCT md5(text)) AS n_unique_texts,
         |  min(nt) AS min_tokens,
         |  max(nt) AS max_tokens,
         |  CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / count(*) AS dup_frac,
         |  CAST(sum(nt) AS DOUBLE) / count(*) AS avg_tokens
         |FROM t""".stripMargin,

    // same banded candidates as minhash, verified by relative levenshtein
    // (native on both engines) instead of shingle Jaccard
    "llm_dedup_edit" ->
      s"""WITH $minhashVerifiedCte,
         |ed AS (
         |  SELECT p.id_a, p.id_b,
         |    CAST(levenshtein(ca.text, cb.text) AS BIGINT) AS edit_dist,
         |    CAST(levenshtein(ca.text, cb.text) AS DOUBLE) /
         |      greatest(length(ca.text), length(cb.text)) AS rel_edit
         |  FROM pairs p
         |  JOIN corpus ca ON p.id_a = ca.doc_id
         |  JOIN corpus cb ON p.id_b = cb.doc_id
         |)
         |SELECT id_a, id_b, edit_dist, rel_edit FROM ed
         |WHERE rel_edit <= CAST(0.2 AS DOUBLE) ORDER BY id_a, id_b""".stripMargin,

    // adjacent-char pair counts over distinct words weighted by word
    // frequency; range() is end-exclusive = Spark's sequence() inclusive
    // to len-1; the CAST keeps DuckDB's SUM(BIGINT)→HUGEINT in schema
    "llm_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS cnt FROM w WHERE length(w) > 0 GROUP BY w),
        |p AS (SELECT cnt, unnest(list_transform(range(1, length(w)),
        |        i -> struct_pack(a := substr(w, i, 1), b := substr(w, i+1, 1)))) AS p
        |      FROM wc),
        |c AS (SELECT p.a AS sym_a, p.b AS sym_b, CAST(sum(cnt) AS BIGINT) AS freq
        |      FROM p GROUP BY 1, 2)
        |SELECT sym_a, sym_b, freq FROM c
        |ORDER BY freq DESC, sym_a, sym_b LIMIT 50""".stripMargin,

    // batch-vs-base anti-join on the content hash: only genuinely new
    // content survives the incremental ingest
    "llm_dedup_incremental" ->
      s"""WITH batch AS (${LlmOps.IncrementalBatchSql})
         |SELECT b.doc_id, md5(b.text) AS content_hash FROM batch b
         |WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE md5(d.text) = md5(b.text))
         |ORDER BY doc_id""".stripMargin,

    // composed funnel: the same quality predicate, exact-keeper group
    // min, banded-minhash verify, and recursive-CC keeper resolution the
    // standalone oracles state, chained over one corpus; output is the
    // four per-stage survivor counts
    "llm_curate_funnel" ->
      s"""WITH RECURSIVE $funnelCcCte
         |SELECT '0_raw' AS stage,
         |  (SELECT count(*) FROM (${LlmOps.NearCorpusSql}) r0) AS n_docs
         |UNION ALL SELECT '1_quality',
         |  (SELECT count(*) FROM (${qualityKeepIdsSql(LlmOps.NearCorpusSql)}) r1)
         |UNION ALL SELECT '2_exact_dedup', (SELECT count(*) FROM corpus)
         |UNION ALL SELECT '3_near_dedup',
         |  (SELECT count(*) FROM corpus
         |   WHERE doc_id NOT IN (SELECT node FROM dropped))
         |ORDER BY stage""".stripMargin,

    // the funnel + the reference-LM bar: stages 0-3 restate the funnel
    // oracle; the model counts (mc2/mc1) derive from the PLAIN documents
    // table (the stored artifact's training corpus), survivors score
    // with the SAME matched-only value-sorted fold the Spark probe
    // states (unmatched transitions contribute 0 through the per-doc
    // left join), and stage 4 counts the docs clearing the bar
    "llm_curate_lm" ->
      s"""WITH RECURSIVE $funnelCcCte,
         |surv AS (SELECT c.doc_id, c.text FROM corpus c
         |         WHERE c.doc_id NOT IN (SELECT node FROM dropped)),
         |${lmScoreCtes("SELECT doc_id, text FROM surv")}
         |SELECT '0_raw' AS stage,
         |  (SELECT count(*) FROM (${LlmOps.NearCorpusSql}) r0) AS n_docs
         |UNION ALL SELECT '1_quality',
         |  (SELECT count(*) FROM (${qualityKeepIdsSql(LlmOps.NearCorpusSql)}) r1)
         |UNION ALL SELECT '2_exact_dedup', (SELECT count(*) FROM corpus)
         |UNION ALL SELECT '3_near_dedup', (SELECT count(*) FROM surv)
         |UNION ALL SELECT '4_fluent', (SELECT count(*) FROM fl WHERE f >= 0.0333)
         |ORDER BY stage""".stripMargin,

    // the COMPLETE pipeline oracle: quality (shared fragment) →
    // gram-bar decontam vs the ≥95 benchmark slice (the decontam-index
    // fixture restated) → exact keepers → near CC (the shared minhash
    // chain; `corpus` here = stage-3 survivors) → stored-LM bar
    // (shared lmScoreCtes); chain single-sourced with the apply oracle
    "llm_curate_full" ->
      s"""WITH RECURSIVE $fullPipelineCtes
         |SELECT '0_raw' AS stage,
         |  (SELECT count(*) FROM (${LlmOps.NearCorpusSql}) r0) AS n_docs
         |UNION ALL SELECT '1_quality', (SELECT count(*) FROM qtok)
         |UNION ALL SELECT '2_decontam', (SELECT count(*) FROM clean)
         |UNION ALL SELECT '3_exact_dedup', (SELECT count(*) FROM corpus)
         |UNION ALL SELECT '4_near_dedup', (SELECT count(*) FROM surv)
         |UNION ALL SELECT '5_fluent', (SELECT count(*) FROM fl WHERE f >= 0.0333)
         |ORDER BY stage""".stripMargin,

    // the PER-LANGUAGE full pipeline: the SAME shared chain through
    // stage 4 (fullPipelineCtes verbatim — single-sourcing), survivors
    // re-labeled with their language from the lang-carrying fixture,
    // stage 5 scored by the LANG-KEYED model counts (lmLangScoreCtesFor,
    // shared with llm_curate_delta_lang — the lmScoreCtes discipline)
    "llm_curate_full_lang" ->
      s"""WITH RECURSIVE $fullPipelineCtes,
         |lcorp AS (${LlmOps.NearCorpusLangSql}),
         |lsurv AS (SELECT s.doc_id, s.text, lc.lang
         |          FROM surv s JOIN lcorp lc USING (doc_id)),
         |${lmLangScoreCtesFor("SELECT doc_id, text, lang FROM lsurv")}
         |SELECT '0_raw' AS stage,
         |  (SELECT count(*) FROM (${LlmOps.NearCorpusSql}) r0) AS n_docs
         |UNION ALL SELECT '1_quality', (SELECT count(*) FROM qtok)
         |UNION ALL SELECT '2_decontam', (SELECT count(*) FROM clean)
         |UNION ALL SELECT '3_exact_dedup', (SELECT count(*) FROM corpus)
         |UNION ALL SELECT '4_near_dedup', (SELECT count(*) FROM surv)
         |UNION ALL SELECT '5_fluent',
         |  (SELECT count(*) FROM lfl WHERE f >= CAST(0.034 AS DOUBLE))
         |ORDER BY stage""".stripMargin,

    // the batch funnel with the TRAINED classifier gate: the shared
    // qclfScoreSql chain (single-sourced with llm_quality_clf* — the
    // training and scoring arithmetic can't drift) scores the heuristic
    // survivors, `clfkeep` = its τ survivors, and the SAME pipeline
    // CTEs flow from the intersected stage-1 set (fullPipelineCtesFor)
    "llm_curate_full_clf" ->
      s"""WITH RECURSIVE ${qclfScoreSql(
             s"SELECT doc_id, text FROM (${LlmOps.NearCorpusSql}) nc " +
               s"WHERE doc_id IN (${qualityKeepIdsSql(LlmOps.NearCorpusSql)})")},
         |clfkeep AS (SELECT doc_id FROM qsc WHERE pred),
         |${fullPipelineCtesFor(clf = true)}
         |SELECT '0_raw' AS stage,
         |  (SELECT count(*) FROM (${LlmOps.NearCorpusSql}) r0) AS n_docs
         |UNION ALL SELECT '1_quality',
         |  (SELECT count(*) FROM (${qualityKeepIdsSql(LlmOps.NearCorpusSql)}) r1)
         |UNION ALL SELECT '1b_clf', (SELECT count(*) FROM qtok)
         |UNION ALL SELECT '2_decontam', (SELECT count(*) FROM clean)
         |UNION ALL SELECT '3_exact_dedup', (SELECT count(*) FROM corpus)
         |UNION ALL SELECT '4_near_dedup', (SELECT count(*) FROM surv)
         |UNION ALL SELECT '5_fluent', (SELECT count(*) FROM fl WHERE f >= 0.0333)
         |ORDER BY stage""".stripMargin,

    // the per-language terminal corpus over the SAME shared chain: the
    // lang-scored survivors witness-dumped (single-sourced CTEs with
    // llm_curate_full_lang — the two can never drift on the arithmetic)
    "llm_curate_full_lang_apply" ->
      s"""WITH RECURSIVE $fullPipelineCtes,
         |lcorp AS (${LlmOps.NearCorpusLangSql}),
         |lsurv AS (SELECT s.doc_id, s.text, lc.lang
         |          FROM surv s JOIN lcorp lc USING (doc_id)),
         |${lmLangScoreCtesFor("SELECT doc_id, text, lang FROM lsurv")}
         |SELECT s.doc_id, CAST(length(s.text) AS BIGINT) AS n_chars
         |FROM surv s
         |WHERE s.doc_id IN (SELECT doc_id FROM lfl WHERE f >= CAST(0.034 AS DOUBLE))
         |ORDER BY s.doc_id""".stripMargin,

    // the full pipeline's terminal corpus over the SAME chain: stage-4
    // survivors clearing the LM bar, witness-dumped
    "llm_curate_full_apply" ->
      s"""WITH RECURSIVE $fullPipelineCtes
         |SELECT s.doc_id, CAST(length(s.text) AS BIGINT) AS n_chars
         |FROM surv s
         |WHERE s.doc_id IN (SELECT doc_id FROM fl WHERE f >= 0.0333)
         |ORDER BY s.doc_id""".stripMargin,

    // the funnel's terminal corpus: every stage-2 survivor that is not a
    // non-keeper near-dup cluster member
    "llm_curate_apply" ->
      s"""WITH RECURSIVE $funnelCcCte
         |SELECT c.doc_id, length(c.text) AS n_chars FROM corpus c
         |WHERE c.doc_id NOT IN (SELECT node FROM dropped)
         |ORDER BY doc_id""".stripMargin,

    "llm_corpus_diff" ->
      s"""WITH next AS (${LlmOps.SnapshotNextSql}),
         |o AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
         |n AS (SELECT doc_id, md5(text) AS new_hash FROM next)
         |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.old_hash IS NULL THEN 'added'
         |       WHEN n.new_hash IS NULL THEN 'removed'
         |       WHEN o.old_hash = n.new_hash THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  o.old_hash, n.new_hash
         |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         |WHERE o.old_hash IS NULL OR n.new_hash IS NULL OR o.old_hash <> n.new_hash
         |ORDER BY doc_id""".stripMargin,

    // the near-dup ingest gate: both sides' shingles → signatures → bands
    // mirrored from the minhash chain, batch bands probing base bands
    // one-sidedly, exact-Jaccard verify, survivors by anti-membership.
    // llm_dedup_inc_mh_idx shares this oracle verbatim: the indexed probe
    // is output-identical by construction (same bands, same verify — only
    // where the base tables come FROM differs, and SQL has no notion of
    // "stored index vs in-query derivation")
    "llm_dedup_inc_minhash" ->
      s"""WITH batch AS (${LlmOps.IncrementalNearBatchSql}),
         |${incGateCtes("batch", "documents")}
         |SELECT b.doc_id FROM batch b
         |WHERE b.doc_id NOT IN (SELECT batch_id FROM dup)
         |ORDER BY doc_id""".stripMargin,

    // largest exact-proportion subset: t = min(n_s div w_s), quota w_s*t,
    // quota filled by the lowest salted-hash ranks — integer math + the
    // shared h56 priority keep both engines doc-identical
    "llm_domain_mix" ->
      s"""WITH docs AS (
         |  SELECT source, doc_id,
         |    CAST(CAST(substr(source, 4) AS INT) % 3 + 1 AS BIGINT) AS w,
         |    ${h56Duck("concat('mix|', CAST(doc_id AS VARCHAR))")} AS pri
         |  FROM documents
         |),
         |q AS (SELECT source, w, count(*) AS n_s FROM docs GROUP BY source, w),
         |t AS (SELECT min(n_s // w) AS t FROM q),
         |k AS (SELECT source, w * t.t AS k_s FROM q CROSS JOIN t),
         |r AS (SELECT source, doc_id, w, pri,
         |        CAST(row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS BIGINT) AS rnk
         |      FROM docs)
         |SELECT r.source, r.doc_id, r.w, r.rnk, k.k_s
         |FROM r JOIN k USING (source) WHERE r.rnk <= k.k_s ORDER BY source, doc_id""".stripMargin,

    // per-mille multiplicities: w // 1000 full copies plus one more iff
    // the salted hash lands under the fractional remainder — the Spark
    // side's explode(sequence) stated as a LATERAL range unnest
    "llm_domain_upsample" ->
      s"""WITH w AS (
         |  SELECT source, doc_id,
         |    CAST((CAST(substr(source, 4) AS INT) % 4) * 750 + 500 AS BIGINT) AS w_pm
         |  FROM documents
         |),
         |c AS (SELECT source, doc_id, w_pm,
         |        (w_pm // 1000) + CASE WHEN
         |          ${h56Duck("concat('up|', CAST(doc_id AS VARCHAR))")} % 1000
         |          < w_pm % 1000 THEN 1 ELSE 0 END AS n_copies
         |      FROM w)
         |SELECT c.source, c.doc_id, c.w_pm, c.n_copies,
         |  CAST(e.epoch AS BIGINT) AS epoch
         |FROM c, LATERAL (SELECT unnest(range(1, c.n_copies + 1)) AS epoch) e
         |WHERE c.n_copies > 0 ORDER BY c.doc_id, epoch""".stripMargin,

    // the oracle states the semantics directly (one per-domain window);
    // the Spark side's bucketed two-level running sum equals it by
    // construction (bucket = pri's top bits preserves the global order)
    "llm_domain_budget" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    ${h56Duck("concat('budget|', CAST(doc_id AS VARCHAR))")} AS pri,
         |    CAST((CAST(substr(source, 4) AS INT) % 4 + 1) * 400 AS BIGINT) AS b
         |  FROM documents
         |),
         |c AS (SELECT source, doc_id, n_toks, b,
         |        SUM(n_toks) OVER (PARTITION BY source ORDER BY pri, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum_toks
         |      FROM d)
         |SELECT source, doc_id, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks
         |FROM c WHERE cum_toks <= b ORDER BY source, doc_id""".stripMargin,

    // the tokenizer-consistent variant: the identical prefix law with
    // n_toks from the regex tokenizer (llm_token_count's re_tokens)
    "llm_budget_tok" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_toks,
         |    ${h56Duck("concat('budget|', CAST(doc_id AS VARCHAR))")} AS pri,
         |    CAST((CAST(substr(source, 4) AS INT) % 4 + 1) * 400 AS BIGINT) AS b
         |  FROM documents
         |),
         |c AS (SELECT source, doc_id, n_toks, b,
         |        SUM(n_toks) OVER (PARTITION BY source ORDER BY pri, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum_toks
         |      FROM d)
         |SELECT source, doc_id, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks
         |FROM c WHERE cum_toks <= b ORDER BY source, doc_id""".stripMargin,

    // the upsampling oracle shares the sampler's cumsum chain shape:
    // per-domain totals, closed-form epoch count, LATERAL range explode
    // (the domain_upsample convention)
    "llm_budget_upsample" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    ${h56Duck("concat('budget|', CAST(doc_id AS VARCHAR))")} AS pri,
         |    CAST((CAST(substr(source, 4) AS INT) % 4 + 1) * 5000 AS BIGINT) AS b
         |  FROM documents
         |),
         |c AS (SELECT source, doc_id, n_toks, b,
         |        SUM(n_toks) OVER (PARTITION BY source ORDER BY pri, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum_toks
         |      FROM d),
         |t AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS t_s FROM d GROUP BY source),
         |e AS (SELECT c.source, c.doc_id, c.n_toks,
         |        (c.b // t.t_s) + CASE WHEN c.cum_toks <= c.b % t.t_s
         |          THEN 1 ELSE 0 END AS n_copies
         |      FROM c JOIN t USING (source))
         |SELECT source, doc_id, n_toks, CAST(ep.epoch AS BIGINT) AS epoch
         |FROM e, LATERAL (SELECT unnest(range(1, e.n_copies + 1)) AS epoch) ep
         |WHERE e.n_copies > 0 ORDER BY source, doc_id, epoch""".stripMargin,

    // the oracle states the semantics directly (one global window); the
    // Spark side's bucketed two-level rank equals it by construction
    "llm_global_shuffle" ->
      s"""WITH p AS (SELECT doc_id,
         |    ${h56Duck("concat('shuffle|', CAST(doc_id AS VARCHAR))")} AS pri
         |  FROM documents),
         |r AS (SELECT doc_id, pri,
         |        CAST(row_number() OVER (ORDER BY pri, doc_id) - 1 AS BIGINT) AS idx
         |      FROM p)
         |SELECT doc_id, pri, idx, idx % ${LlmOps.ShuffleShards} AS shard,
         |  idx // ${LlmOps.ShuffleShards} AS pos
         |FROM r ORDER BY doc_id""".stripMargin,

    "llm_train_split" ->
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         |FROM (
         |  SELECT doc_id, ${h56Duck("concat('split|', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
         |  FROM documents
         |) ORDER BY doc_id""".stripMargin,

    // per-rule fail flags + keep, mirrored threshold-for-threshold; both
    // engines derive the same doubles, so the boolean cuts agree exactly
    "llm_quality_filter" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |g AS (SELECT doc_id, text, toks,
         |    list_transform(range(1, greatest(len(toks)-2, 1)+1), i -> array_to_string(list_slice(toks, i, i+2), ' ')) AS all3
         |  FROM t),
         |s AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS avg_token_len,
         |    1.0 - CAST(len(list_distinct(all3)) AS DOUBLE) / len(all3) AS rep3_frac,
         |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio
         |  FROM g),
         |f AS (SELECT doc_id, n_tokens, avg_token_len, rep3_frac, punct_ratio,
         |    n_tokens < 10 AS fail_short,
         |    avg_token_len < CAST(3.0 AS DOUBLE) OR avg_token_len > CAST(12.0 AS DOUBLE) AS fail_token_len,
         |    rep3_frac > CAST(0.2 AS DOUBLE) AS fail_repetition,
         |    punct_ratio > CAST(0.3 AS DOUBLE) AS fail_punct
         |  FROM s)
         |SELECT doc_id, n_tokens, avg_token_len, rep3_frac, punct_ratio,
         |  fail_short, fail_token_len, fail_repetition, fail_punct,
         |  NOT fail_short AND NOT fail_token_len AND NOT fail_repetition AND NOT fail_punct AS keep
         |FROM f ORDER BY doc_id""".stripMargin,

    "llm_repetition" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |g AS (SELECT doc_id,
         |    list_transform(range(1, greatest(len(toks)-2, 1)+1), i -> array_to_string(list_slice(toks, i, i+2), ' ')) AS all3
         |  FROM t)
         |SELECT doc_id,
         |  CAST(len(all3) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(all3)) AS BIGINT) AS n_distinct,
         |  1.0 - CAST(len(list_distinct(all3)) AS DOUBLE) / len(all3) AS rep3_frac
         |FROM g ORDER BY doc_id""".stripMargin,

    "llm_scrub_pii" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |         THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com ref 12345678' || CAST(doc_id AS VARCHAR)
        |         ELSE text END AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]{7,}', '<NUM>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+')) AS BIGINT) AS n_emails
        |FROM c ORDER BY doc_id""".stripMargin,

    "mm_embed_join" ->
      """SELECT label, CAST(count(*) AS BIGINT) AS n_media, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
        |FROM (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents
        |  WHERE ['png','jpeg','mp4'][CAST(doc_id % 3 AS INT) + 1] = 'png'
        |) m JOIN embeddings e ON m.doc_id % 2000 = e.vec_id
        |GROUP BY label ORDER BY label""".stripMargin,

    "mm_media_meta" ->
      """SELECT doc_id,
        |  ['png','jpeg','mp4'][CAST(doc_id % 3 AS INT) + 1] AS codec,
        |  64 + (doc_id % 16) * 8 AS width,
        |  64 + ((doc_id // 16) % 16) * 8 AS height,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the REAL header decode: the oracle BUILDS the same encoded payload
    // blob (header hex assembled textually, unhex'd, body appended) and
    // then PARSES it with its own mirrored decoder over byte-identical
    // inputs — not a fixture echo. Magic and dim layouts: PNG sig+IHDR
    // (BE u32 at hex 33-48 of the 256-byte window), GIF89a LE u16s
    // (byte-swapped hex pairs), and JPEG SOFn found by WALKING the
    // marker segments by their length fields (w0..w7 = the same
    // JpegWalkSteps-bounded chain as the Spark form: SOF0/1/2 is a
    // fixpoint, standalone TEM/RSTn hop the bare marker, SOI/EOI/SOS or
    // a non-marker byte kills the walk) — an 'FFC0' decoy inside an
    // APP0 payload is never mistaken for the frame header. Walk
    // positions advance whole bytes from SOI, so they are byte-aligned
    // by construction (no parity check needed).
    "mm_decode_header" ->
      ("""WITH m AS (SELECT doc_id,
        |    64 + (doc_id % 16) * 8 AS width,
        |    64 + ((doc_id // 16) % 16) * 8 AS height, text FROM documents),
        |hx AS (SELECT doc_id,
        |    upper(lpad(to_hex(width), 8, '0')) AS w8,
        |    upper(lpad(to_hex(height), 8, '0')) AS h8,
        |    upper(lpad(to_hex(width), 4, '0')) AS w4,
        |    upper(lpad(to_hex(height), 4, '0')) AS h4, text FROM m),
        |enc AS (SELECT doc_id,
        |    unhex(CASE doc_id % 4
        |      WHEN 0 THEN '89504E470D0A1A0A' || '0000000D49484452' || w8 || h8 || '0806000000' || '00000000'
        |      WHEN 1 THEN CASE (doc_id // 4) % 4
        |        WHEN 0 THEN 'FFD8FFC0' || '001108' || h4 || w4 || '03'
        |        WHEN 1 THEN 'FFD8FFE0' || '0010' || '4A464946000101FFC000AA000000' || 'FFC0' || '001108' || h4 || w4 || '03'
        |        WHEN 2 THEN 'FFD8FFDB' || '0005' || '010203' || 'FFC2' || '001108' || h4 || w4 || '03'
        |        ELSE 'FFD8FFE1' || '00B4' || '457869660000' || 'FFC0BEEF' || repeat('AB', 168) || 'FFC0' || '001108' || h4 || w4 || '03' END
        |      WHEN 2 THEN '474946383961' || substr(w4, 3, 2) || substr(w4, 1, 2) || substr(h4, 3, 2) || substr(h4, 1, 2) || 'F70000'
        |      ELSE '' END) || encode(text) AS payload FROM hx),
        |hdrs AS (SELECT doc_id, payload,
        |    substr(hex(payload), 1, 512) AS hdr FROM enc),
        |w0 AS (SELECT doc_id, payload, hdr,
        |    CASE WHEN substr(hdr, 1, 16) = '89504E470D0A1A0A' THEN 'png'
        |         WHEN substr(hdr, 1, 4) = 'FFD8' THEN 'jpeg'
        |         WHEN substr(hdr, 1, 12) = '474946383961' THEN 'gif'
        |         ELSE 'unknown' END AS format,
        |    CASE WHEN substr(hdr, 1, 4) = 'FFD8'
        |          AND substr(hdr, 1, 16) <> '89504E470D0A1A0A'
        |         THEN 5 END AS wp FROM hdrs),
        |"""
        + (1 to 7).map(i =>
            s"""w$i AS (SELECT doc_id, payload, hdr, format, CASE
               | WHEN wp IS NULL OR length(hdr) < wp + 3 THEN NULL
               | WHEN substr(hdr, wp, 4) IN ('FFC0','FFC1','FFC2') THEN wp
               | WHEN substr(hdr, wp, 2) <> 'FF' THEN NULL
               | WHEN substr(hdr, wp, 4) IN ('FFD8','FFD9','FFDA') THEN NULL
               | WHEN substr(hdr, wp, 4) = 'FF01' OR (substr(hdr, wp, 3) = 'FFD'
               |     AND substr(hdr, wp + 3, 1) BETWEEN '0' AND '7') THEN wp + 4
               | WHEN length(hdr) < wp + 7
               |     OR CAST('0x' || substr(hdr, wp + 4, 4) AS INT) < 2 THEN NULL
               | ELSE wp + 4 + 2 * CAST('0x' || substr(hdr, wp + 4, 4) AS INT)
               |END AS wp FROM w${i - 1}),""".stripMargin).mkString("\n")
        + """
        |dec AS (SELECT doc_id, payload, hdr, format,
        |    CASE WHEN wp IS NOT NULL
        |          AND substr(hdr, wp, 4) IN ('FFC0','FFC1','FFC2')
        |         THEN wp ELSE 0 END AS sof FROM w7)
        |SELECT doc_id, format,
        |  CASE WHEN format = 'png' AND length(hdr) >= 48
        |         THEN CAST('0x' || substr(hdr, 33, 8) AS BIGINT)
        |       WHEN format = 'jpeg' AND sof > 0 AND length(hdr) >= sof + 17
        |         THEN CAST('0x' || substr(hdr, sof + 14, 4) AS BIGINT)
        |       WHEN format = 'gif' AND length(hdr) >= 20
        |         THEN CAST('0x' || substr(hdr, 15, 2) || substr(hdr, 13, 2) AS BIGINT)
        |  END AS width_px,
        |  CASE WHEN format = 'png' AND length(hdr) >= 48
        |         THEN CAST('0x' || substr(hdr, 41, 8) AS BIGINT)
        |       WHEN format = 'jpeg' AND sof > 0 AND length(hdr) >= sof + 17
        |         THEN CAST('0x' || substr(hdr, sof + 10, 4) AS BIGINT)
        |       WHEN format = 'gif' AND length(hdr) >= 20
        |         THEN CAST('0x' || substr(hdr, 19, 2) || substr(hdr, 17, 2) AS BIGINT)
        |  END AS height_px,
        |  CAST(octet_length(payload) AS BIGINT) AS n_bytes
        |FROM dec ORDER BY doc_id""").stripMargin,

    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CAST(doc_id % 4 + 1 AS INT) AS n_frames,
        |    CAST(octet_length(encode(text)) AS BIGINT) // (doc_id % 4 + 1) AS step
        |  FROM documents
        |),
        |f AS (SELECT doc_id, text, step, CAST(u.k AS BIGINT) AS frame_idx FROM m, UNNEST(range(0, n_frames)) AS u(k))
        |SELECT doc_id, frame_idx, frame_idx * step AS frame_off,
        |  substr(text, CAST(frame_idx * step + 1 AS INT), 12) AS frame_sig
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // blocking recall on the % 20 subsample: truth = all-pairs exact
    // Jaccard (the subsample is small enough that the quadratic side is
    // bounded), hit = truth pairs the band blocking surfaces; one row
    "llm_dedup_recall" ->
      s"""WITH ${minhashCteFor(
             s"SELECT doc_id, text FROM ($NearCorpusSql) WHERE doc_id % 20 = 0")},
         |truth AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM shg a JOIN shg b ON a.doc_id < b.doc_id
         |  WHERE ${jaccardDuck("a.gs", "b.gs")} >= 0.6
         |),
         |hit AS (SELECT t.id_a, t.id_b FROM truth t
         |  WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.id_a = t.id_a AND p.id_b = t.id_b))
         |SELECT (SELECT count(*) FROM truth) AS n_true,
         |  (SELECT count(*) FROM hit) AS n_hit,
         |  CAST((SELECT count(*) FROM hit) AS DOUBLE) / (SELECT count(*) FROM truth) AS recall""".stripMargin,

    // sign-bucket blocking recall for the cosine family: truth = exact
    // all-pairs cosine over the bounded subsample, hit = same bucket
    "llm_sem_recall" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, e FROM base
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_transform(range(1, len(e)+1), i -> e[i] + (i % 3 - 1) * CAST(0.01 AS DOUBLE))
         |  FROM base WHERE vec_id % 10 = 0
         |),
         |sub AS (SELECT vec_id, e, ${signBucketDuck("e")} AS bucket, sqrt(${dotDuck("e", "e")}) AS nrm
         |        FROM corpus WHERE vec_id % 20 = 0),
         |truth AS (
         |  SELECT (a.bucket = b.bucket) AS hit
         |  FROM sub a JOIN sub b ON a.vec_id < b.vec_id
         |  WHERE ${dotDuck("a.e", "b.e")} / (a.nrm * b.nrm) >= 0.99
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(COALESCE(SUM(CASE WHEN hit THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit,
         |  CAST(COALESCE(SUM(CASE WHEN hit THEN 1 ELSE 0 END), 0) AS DOUBLE) / count(*) AS recall
         |FROM truth""".stripMargin,

    // exact media dedup over the payload-copy corpus; payload = UTF-8
    // bytes of text, and DuckDB's md5(VARCHAR) hashes those same bytes,
    // so hashing the text IS hashing the payload
    "mm_payload_dedup" ->
      s"""WITH corpus AS ($PayloadCorpusSql)
         |SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies, md5(text) AS payload_hash
         |FROM corpus GROUP BY md5(text) ORDER BY keeper_id""".stripMargin,

    // byte-4-gram simhash near-dup: hex windows → h56 → ±1 bit votes →
    // 32-bit simhash → 8-bit chunk blocking → bit_count(xor) verify,
    // mirrored construct-for-construct (hex() is uppercase on both)
    "mm_payload_near" ->
      s"""WITH $payNearChainCte
         |SELECT id_a, id_b, hamming FROM h
         |WHERE hamming <= ${Multimodal.PayloadMaxHamming} ORDER BY id_a, id_b""".stripMargin,

    // terminal media dedup: the near chain's pairs (Hamming 0 covers exact
    // byte copies) → the same recursive-CC + keep-cluster-min shape as
    // llm_dedup_apply; n_bytes via encode() since payload = UTF-8(text)
    "mm_payload_apply" ->
      s"""WITH RECURSIVE $payNearChainCte,
         |dup AS (SELECT id_a, id_b FROM h WHERE hamming <= ${Multimodal.PayloadMaxHamming}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM dup
         |          UNION ALL SELECT id_b, id_a FROM dup),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |cc AS (
         |  SELECT node, node AS lbl FROM nodes
         |  UNION
         |  SELECT e.dst AS node, c.lbl FROM cc c JOIN edges e ON c.node = e.src
         |),
         |dropped AS (SELECT node FROM cc GROUP BY node HAVING min(lbl) <> node)
         |SELECT c.doc_id, CAST(octet_length(encode(c.text)) AS BIGINT) AS n_bytes
         |FROM corpus c WHERE c.doc_id NOT IN (SELECT node FROM dropped)
         |ORDER BY doc_id""".stripMargin,

    // sliding-window chunking, integer-only chunk-count arithmetic
    // mirrored term for term (stride 48 = 64 - 16)
    "llm_chunk_docs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |            len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, toks,
        |        greatest((n - 64 + 47) // 48 + 1, 1) AS n_chunks FROM t),
        |e AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS k FROM c)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |  array_to_string(list_slice(toks, k*48 + 1, k*48 + 64), ' ') AS chunk,
        |  CAST(len(list_slice(toks, k*48 + 1, k*48 + 64)) AS BIGINT) AS n_tokens
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    // per-band index health off the same band construction the minhash
    // family blocks on: distinct keys, hottest bucket, total rows
    "llm_dedup_index_stats" ->
      s"""WITH ${minhashCteFor("SELECT doc_id, text FROM documents")},
         |bk AS (SELECT band_idx, band_key, count(*) AS bucket
         |       FROM bands GROUP BY band_idx, band_key)
         |SELECT CAST(band_idx AS BIGINT) AS band_idx, count(*) AS n_keys,
         |  max(bucket) AS max_bucket, CAST(sum(bucket) AS BIGINT) AS n_rows
         |FROM bk GROUP BY band_idx ORDER BY band_idx""".stripMargin,

    // the stored ANN cell table is exactly the embeddings partitioned by
    // cell label, so its per-cell row counts group straight off the table
    "llm_ann_index_stats" ->
      """SELECT CAST(label AS BIGINT) AS cell, count(*) AS n_vectors
        |FROM embeddings GROUP BY label ORDER BY cell""".stripMargin,

    // the PQ codes table holds exactly one packed row per corpus vector,
    // so the stored-index gauge must reproduce the corpus' cell counts
    "llm_pq_index_stats" ->
      """SELECT CAST(label AS BIGINT) AS cell, count(*) AS n_vectors
        |FROM embeddings GROUP BY label ORDER BY cell""".stripMargin,

    // the stored LSH index holds one signature row per base-generation
    // doc, so coverage against the next snapshot is a pure id-set
    // reconciliation between the two generations
    "llm_index_coverage" ->
      s"""WITH cur AS (SELECT doc_id FROM (${LlmOps.SnapshotNextSql}) sn),
         |idx AS (SELECT doc_id FROM documents)
         |SELECT CASE WHEN i.doc_id IS NULL THEN 'unindexed'
         |            WHEN c.doc_id IS NULL THEN 'orphaned'
         |            ELSE 'indexed' END AS status,
         |  count(*) AS n_docs
         |FROM idx i FULL OUTER JOIN cur c ON i.doc_id = c.doc_id
         |GROUP BY 1 ORDER BY status""".stripMargin,

    // the ANN cell table and the PQ code table each hold one row per
    // base-generation vector, so both coverage audits reduce to the same
    // id-set reconciliation against the next vector generation
    "llm_ann_coverage" ->
      s"""WITH cur AS (SELECT vec_id FROM (${LlmOps.VecSnapshotNextSql}) sn),
         |idx AS (SELECT vec_id FROM embeddings)
         |SELECT CASE WHEN i.vec_id IS NULL THEN 'unindexed'
         |            WHEN c.vec_id IS NULL THEN 'orphaned'
         |            ELSE 'indexed' END AS status,
         |  count(*) AS n_docs
         |FROM idx i FULL OUTER JOIN cur c ON i.vec_id = c.vec_id
         |GROUP BY 1 ORDER BY status""".stripMargin,

    "llm_pq_coverage" ->
      s"""WITH cur AS (SELECT vec_id FROM (${LlmOps.VecSnapshotNextSql}) sn),
         |idx AS (SELECT vec_id FROM embeddings)
         |SELECT CASE WHEN i.vec_id IS NULL THEN 'unindexed'
         |            WHEN c.vec_id IS NULL THEN 'orphaned'
         |            ELSE 'indexed' END AS status,
         |  count(*) AS n_docs
         |FROM idx i FULL OUTER JOIN cur c ON i.vec_id = c.vec_id
         |GROUP BY 1 ORDER BY status""".stripMargin,

    // post-prune audits: the index id set is the base generation
    // INTERSECTED with the snapshot (the prune's semi-join), so the
    // orphaned class is structurally impossible — two rows out
    "llm_index_prune" ->
      s"""WITH cur AS (SELECT doc_id FROM (${LlmOps.SnapshotNextSql}) sn),
         |idx AS (SELECT doc_id FROM documents
         |        WHERE doc_id IN (SELECT doc_id FROM cur))
         |SELECT CASE WHEN i.doc_id IS NULL THEN 'unindexed'
         |            WHEN c.doc_id IS NULL THEN 'orphaned'
         |            ELSE 'indexed' END AS status,
         |  count(*) AS n_docs
         |FROM idx i FULL OUTER JOIN cur c ON i.doc_id = c.doc_id
         |GROUP BY 1 ORDER BY status""".stripMargin,

    "llm_ann_prune" ->
      s"""WITH cur AS (SELECT vec_id FROM (${LlmOps.VecSnapshotNextSql}) sn),
         |idx AS (SELECT vec_id FROM embeddings
         |        WHERE vec_id IN (SELECT vec_id FROM cur))
         |SELECT CASE WHEN i.vec_id IS NULL THEN 'unindexed'
         |            WHEN c.vec_id IS NULL THEN 'orphaned'
         |            ELSE 'indexed' END AS status,
         |  count(*) AS n_docs
         |FROM idx i FULL OUTER JOIN cur c ON i.vec_id = c.vec_id
         |GROUP BY 1 ORDER BY status""".stripMargin,

    "llm_pq_prune" ->
      s"""WITH cur AS (SELECT vec_id FROM (${LlmOps.VecSnapshotNextSql}) sn),
         |idx AS (SELECT vec_id FROM embeddings
         |        WHERE vec_id IN (SELECT vec_id FROM cur))
         |SELECT CASE WHEN i.vec_id IS NULL THEN 'unindexed'
         |            WHEN c.vec_id IS NULL THEN 'orphaned'
         |            ELSE 'indexed' END AS status,
         |  count(*) AS n_docs
         |FROM idx i FULL OUTER JOIN cur c ON i.vec_id = c.vec_id
         |GROUP BY 1 ORDER BY status""".stripMargin,

    // corpus GC: exactly the base rows whose id survives into the next
    // snapshot (removal is id-level — a changed doc keeps its BASE text
    // until ingest updates it, so n_chars reads from documents)
    "llm_corpus_gc" ->
      s"""WITH cur AS (SELECT doc_id FROM (${LlmOps.SnapshotNextSql}) sn)
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents WHERE doc_id IN (SELECT doc_id FROM cur)
         |ORDER BY doc_id""".stripMargin,

    // the as-of read restated from the fixture's construction: epoch =
    // doc_id % 4, bound at 2 — later epochs simply absent
    "llm_corpus_asof" ->
      """SELECT doc_id, doc_id % 4 AS epoch,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 4 <= 2 ORDER BY doc_id""".stripMargin,

    // the stored decontamination gate: same shingle chain as
    // llm_decontaminate with the roles inverted — benchmark (≥95 slice)
    // is the membership set, training candidates (<90) are scored
    "llm_decontam_idx" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |g AS (SELECT doc_id, $shinglesDuck AS grams FROM t),
         |gh AS (SELECT doc_id,
         |    list_distinct(list_transform(grams, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs,
         |    ${h56Duck("concat('split|', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
         |  FROM g),
         |bench AS (SELECT DISTINCT unnest(gs) AS h FROM gh WHERE bucket >= 95),
         |train AS (SELECT doc_id, gs FROM gh WHERE bucket < 90),
         |e AS (SELECT doc_id, unnest(gs) AS h FROM train),
         |sh AS (SELECT doc_id, count(*) AS n_shared FROM e JOIN bench USING (h) GROUP BY doc_id)
         |SELECT train.doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
         |  COALESCE(sh.n_shared, 0) AS n_shared,
         |  COALESCE(sh.n_shared, 0) > 0 AS contaminated
         |FROM train LEFT JOIN sh ON train.doc_id = sh.doc_id ORDER BY train.doc_id""".stripMargin,

    // the gram table re-derived from the benchmark slice (distinct
    // shingle hashes of bucket ≥ 95 docs), reduced to the per-hb gauge;
    // the fixture builds once with no appends, so rows == distinct grams
    "llm_decontam_stats" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |g AS (SELECT doc_id, $shinglesDuck AS grams FROM t),
         |gh AS (SELECT doc_id,
         |    list_distinct(list_transform(grams, s -> ${h56Duck("s")} % ${LlmOps.MersenneP})) AS gs,
         |    ${h56Duck("concat('split|', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
         |  FROM g),
         |bench AS (SELECT DISTINCT unnest(gs) AS h FROM gh WHERE bucket >= 95)
         |SELECT CAST(h % 16 AS BIGINT) AS hb, count(*) AS n_rows,
         |  count(DISTINCT h) AS n_grams
         |FROM bench GROUP BY 1 ORDER BY hb""".stripMargin,

    // stored payload gate: two simhash chains (indexed base media vs the
    // arriving batch), batch payloads within Hamming 3 of a base payload
    // sharing a chunk value drop; joining on chunk_val alone is the
    // Spark join minus the redundant ck_bucket key (a pure function of
    // chunk_val) — same pairs
    "mm_payload_inc_idx" ->
      s"""WITH ${paySimsCtes("SELECT doc_id, text FROM documents", "b")},
         |${paySimsCtes(PayloadIngestBatchSql, "n")},
         |dup AS (SELECT DISTINCT n.doc_id
         |        FROM nch n JOIN bch b
         |          ON n.chunk_idx = b.chunk_idx AND n.chunk_val = b.chunk_val
         |        WHERE bit_count(xor(n.simhash, b.simhash)) <= ${Multimodal.PayloadMaxHamming})
         |SELECT doc_id FROM nsims
         |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
         |ORDER BY doc_id""".stripMargin,

    // per-chunk health gauge: the stored chunk table re-derived from the
    // media corpus, reduced to the same three aggregates
    "mm_payload_index_stats" ->
      s"""WITH ${paySimsCtes("SELECT doc_id, text FROM documents", "")},
         |bk AS (SELECT chunk_idx, chunk_val, count(*) AS bucket
         |       FROM ch GROUP BY 1, 2)
         |SELECT CAST(chunk_idx AS BIGINT) AS chunk_idx, count(*) AS n_vals,
         |  max(bucket) AS max_bucket, CAST(sum(bucket) AS BIGINT) AS n_rows
         |FROM bk GROUP BY chunk_idx ORDER BY chunk_idx""".stripMargin,

    // media diff: payload = UTF-8(text), so the payload md5s restate as
    // text md5s — removed %11, changed %7-of-survivors (the ' rev2'
    // re-encode), added +70000000 re-publications of %13
    "mm_media_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
        |n AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS new_hash
        |      FROM documents WHERE doc_id % 11 <> 0
        |      UNION ALL
        |      SELECT doc_id + 70000000, md5(text) FROM documents WHERE doc_id % 13 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.old_hash IS NULL THEN 'added'
        |       WHEN n.new_hash IS NULL THEN 'removed'
        |       WHEN o.old_hash = n.new_hash THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  o.old_hash, n.new_hash
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |WHERE o.old_hash IS NULL OR n.new_hash IS NULL OR o.old_hash <> n.new_hash
        |ORDER BY doc_id""".stripMargin,

    // the media as-of read restated from the fixture's construction:
    // epoch = doc_id % 4, bound at 2 — later epochs simply absent
    "mm_media_asof" ->
      """SELECT doc_id, doc_id % 4 AS epoch,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id % 4 <= 2 ORDER BY doc_id""".stripMargin,

    // media GC: exactly the base assets surviving the %11 takedown,
    // byte sizes unchanged (removal is id-level)
    "mm_media_gc" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id % 11 <> 0 ORDER BY doc_id""".stripMargin,

    // payload-index coverage: the chunk table holds the base media ids,
    // the next media generation removes %11 and adds +90000000 arrivals
    "mm_payload_coverage" ->
      """WITH cur AS (SELECT doc_id FROM documents WHERE doc_id % 11 <> 0
        |             UNION ALL SELECT doc_id + 90000000 FROM documents WHERE doc_id % 13 = 0),
        |idx AS (SELECT doc_id FROM documents)
        |SELECT CASE WHEN i.doc_id IS NULL THEN 'unindexed'
        |            WHEN c.doc_id IS NULL THEN 'orphaned'
        |            ELSE 'indexed' END AS status,
        |  count(*) AS n_docs
        |FROM idx i FULL OUTER JOIN cur c ON i.doc_id = c.doc_id
        |GROUP BY 1 ORDER BY status""".stripMargin,

    "mm_payload_prune" ->
      """WITH cur AS (SELECT doc_id FROM documents WHERE doc_id % 11 <> 0
        |             UNION ALL SELECT doc_id + 90000000 FROM documents WHERE doc_id % 13 = 0),
        |idx AS (SELECT doc_id FROM documents WHERE doc_id % 11 <> 0)
        |SELECT CASE WHEN i.doc_id IS NULL THEN 'unindexed'
        |            WHEN c.doc_id IS NULL THEN 'orphaned'
        |            ELSE 'indexed' END AS status,
        |  count(*) AS n_docs
        |FROM idx i FULL OUTER JOIN cur c ON i.doc_id = c.doc_id
        |GROUP BY 1 ORDER BY status""".stripMargin,

    // incremental curation: delta = fingerprint-diff churn, quality =
    // the shared keep-predicate fragment, exact = hash anti-membership
    // against the base corpus, near = the shared ingest-gate chain with
    // self-ids excluded (the stored index holds the base generation)
    "llm_curate_delta" ->
      s"""WITH nxt AS (${LlmOps.SnapshotCurateSql}),
         |oldh AS (SELECT doc_id, md5(text) AS oh FROM documents),
         |delta AS (
         |  SELECT n.doc_id, n.text
         |  FROM (SELECT doc_id, text, md5(text) AS nh FROM nxt) n
         |  LEFT JOIN oldh o ON n.doc_id = o.doc_id
         |  WHERE o.doc_id IS NULL OR o.oh <> n.nh),
         |q AS (SELECT doc_id, text FROM delta
         |  WHERE doc_id IN (${qualityKeepIdsSql("SELECT doc_id, text FROM delta")})),
         |batch AS (SELECT doc_id, text FROM q
         |  WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)),
         |${incGateCtes("batch", "documents", selfExcl = true)}
         |SELECT '0_delta' AS stage, count(*) AS n_docs FROM delta
         |UNION ALL SELECT '1_quality', count(*) FROM q
         |UNION ALL SELECT '2_exact', count(*) FROM batch
         |UNION ALL SELECT '3_near', count(*) FROM batch b
         |  WHERE b.doc_id NOT IN (SELECT batch_id FROM dup)
         |ORDER BY stage""".stripMargin,

    // the nightly delta with the trained-classifier gate: the shared
    // qclfScoreSql chain scores the churn's quality survivors (CTE `q`
    // referenced as its batch), clf applied as the same end-stage
    // intersection the Spark chain states — counts nested per stage
    "llm_curate_delta_clf" ->
      s"""WITH nxt AS (${LlmOps.SnapshotCurateSql}),
         |oldh AS (SELECT doc_id, md5(text) AS oh FROM documents),
         |delta AS (
         |  SELECT n.doc_id, n.text
         |  FROM (SELECT doc_id, text, md5(text) AS nh FROM nxt) n
         |  LEFT JOIN oldh o ON n.doc_id = o.doc_id
         |  WHERE o.doc_id IS NULL OR o.oh <> n.nh),
         |q AS (SELECT doc_id, text FROM delta
         |  WHERE doc_id IN (${qualityKeepIdsSql("SELECT doc_id, text FROM delta")})),
         |${qclfScoreSql("SELECT doc_id, text FROM q")},
         |clfkeep AS (SELECT doc_id FROM qsc WHERE pred),
         |batch AS (SELECT doc_id, text FROM q
         |  WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)),
         |${incGateCtes("batch", "documents", selfExcl = true)}
         |SELECT '0_delta' AS stage, count(*) AS n_docs FROM delta
         |UNION ALL SELECT '1_quality', count(*) FROM q
         |UNION ALL SELECT '1b_clf', count(*) FROM clfkeep
         |UNION ALL SELECT '2_exact', count(*) FROM batch b
         |  WHERE b.doc_id IN (SELECT doc_id FROM clfkeep)
         |UNION ALL SELECT '3_near', count(*) FROM batch b
         |  WHERE b.doc_id NOT IN (SELECT batch_id FROM dup)
         |    AND b.doc_id IN (SELECT doc_id FROM clfkeep)
         |ORDER BY stage""".stripMargin,

    // the delta run + the reference-LM bar: stages 0-3 restate the delta
    // oracle, stage 4 scores the near-gate survivors with the shared
    // lmScoreCtes chain (identical arithmetic to llm_curate_lm's stage)
    // the everything-gated nightly: delta_lm's chain with the gram-bar
    // decontam stage between quality and exact (bench fragments shared
    // with the full-funnel oracle's construction; CTE prefix shared with
    // the terminal-apply oracle — single-sourcing, the lmScoreCtes rule)
    "llm_curate_delta_full" ->
      s"""WITH $deltaFullCtes
         |SELECT '0_delta' AS stage, count(*) AS n_docs FROM delta
         |UNION ALL SELECT '1_quality', count(*) FROM q
         |UNION ALL SELECT '2_decontam', count(*) FROM clean
         |UNION ALL SELECT '3_exact', count(*) FROM batch
         |UNION ALL SELECT '4_near', count(*) FROM nearkept
         |UNION ALL SELECT '5_fluent',
         |  (SELECT count(*) FROM fl WHERE f >= CAST(0.0333 AS DOUBLE))
         |ORDER BY stage""".stripMargin,

    // the terminal apply reads back exactly the every-gate chain's final
    // survivors (near-kept docs clearing the LM bar) — same CTE prefix,
    // dumped by the dedup-apply witness convention (doc_id, n_chars);
    // the bar is the fixture's SF-robust DeltaApplyBar (see its scaladoc)
    "llm_curate_delta_apply" ->
      s"""WITH $deltaFullCtes
         |SELECT n.doc_id, CAST(length(n.text) AS BIGINT) AS n_chars
         |FROM nearkept n JOIN fl ON n.doc_id = fl.doc_id
         |WHERE fl.f >= CAST($DeltaApplyBar AS DOUBLE)
         |ORDER BY n.doc_id""".stripMargin,

    // the per-language nightly: the delta chain with the language label
    // carried (churn/quality/exact/near identical to llm_curate_delta —
    // lang is a passenger), stage 4 scoring survivors against the
    // LANG-KEYED model counts (lmLangScoreCtesFor — the lmScoreCtes
    // arithmetic with c2/c1 per (lang, w1[, w2]))
    "llm_curate_delta_lang" ->
      s"""WITH nxt AS (${LlmOps.SnapshotCurateLangSql}),
         |oldh AS (SELECT doc_id, md5(text) AS oh FROM documents),
         |delta AS (
         |  SELECT n.doc_id, n.text, n.lang
         |  FROM (SELECT doc_id, text, lang, md5(text) AS nh FROM nxt) n
         |  LEFT JOIN oldh o ON n.doc_id = o.doc_id
         |  WHERE o.doc_id IS NULL OR o.oh <> n.nh),
         |q AS (SELECT doc_id, text, lang FROM delta
         |  WHERE doc_id IN (${qualityKeepIdsSql("SELECT doc_id, text FROM delta")})),
         |batch AS (SELECT doc_id, text, lang FROM q
         |  WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)),
         |${incGateCtes("batch", "documents", selfExcl = true)},
         |nearkept AS (SELECT b.doc_id, b.text, b.lang FROM batch b
         |  WHERE b.doc_id NOT IN (SELECT batch_id FROM dup)),
         |${lmLangScoreCtesFor("SELECT doc_id, text, lang FROM nearkept")}
         |SELECT '0_delta' AS stage, count(*) AS n_docs FROM delta
         |UNION ALL SELECT '1_quality', count(*) FROM q
         |UNION ALL SELECT '2_exact', count(*) FROM batch
         |UNION ALL SELECT '3_near', count(*) FROM nearkept
         |UNION ALL SELECT '4_fluent',
         |  (SELECT count(*) FROM lfl WHERE f >= CAST(0.034 AS DOUBLE))
         |ORDER BY stage""".stripMargin,

    "llm_curate_delta_lm" ->
      s"""WITH nxt AS (${LlmOps.SnapshotCurateSql}),
         |oldh AS (SELECT doc_id, md5(text) AS oh FROM documents),
         |delta AS (
         |  SELECT n.doc_id, n.text
         |  FROM (SELECT doc_id, text, md5(text) AS nh FROM nxt) n
         |  LEFT JOIN oldh o ON n.doc_id = o.doc_id
         |  WHERE o.doc_id IS NULL OR o.oh <> n.nh),
         |q AS (SELECT doc_id, text FROM delta
         |  WHERE doc_id IN (${qualityKeepIdsSql("SELECT doc_id, text FROM delta")})),
         |batch AS (SELECT doc_id, text FROM q
         |  WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)),
         |${incGateCtes("batch", "documents", selfExcl = true)},
         |nearkept AS (SELECT b.doc_id, b.text FROM batch b
         |  WHERE b.doc_id NOT IN (SELECT batch_id FROM dup)),
         |${lmScoreCtes("SELECT doc_id, text FROM nearkept")}
         |SELECT '0_delta' AS stage, count(*) AS n_docs FROM delta
         |UNION ALL SELECT '1_quality', count(*) FROM q
         |UNION ALL SELECT '2_exact', count(*) FROM batch
         |UNION ALL SELECT '3_near', count(*) FROM nearkept
         |UNION ALL SELECT '4_fluent',
         |  (SELECT count(*) FROM fl WHERE f >= CAST(0.0333 AS DOUBLE))
         |ORDER BY stage""".stripMargin,

    // drift gauge: the PQ chain's reconstructions (codes assigned against
    // the frozen sample-trained codebook) joined back to the raw vectors;
    // per-cell aggregates are order-free (counts + max) by design
    "llm_pq_drift" ->
      s"""WITH $pqChainDuck,
         |lb AS (SELECT vec_id, label FROM embeddings),
         |er AS (SELECT a.vec_id, l.label, ${ssdDuck("b.e", "a.approx")} AS err
         |  FROM ap a JOIN base b ON a.vec_id = b.vec_id
         |  JOIN lb l ON a.vec_id = l.vec_id)
         |SELECT CAST(label AS BIGINT) AS cell, count(*) AS n_vectors,
         |  CAST(sum(CASE WHEN err > CAST(1.0 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_high_err,
         |  max(err) AS max_err
         |FROM er GROUP BY label ORDER BY cell""".stripMargin
  )

  /** The payload simhash chain (corpus → byte-4-gram simhash → chunk
    * blocking → Hamming-verified pairs `h`) shared by the near-dup pair
    * query and the terminal apply.
    */
  private lazy val payNearChainCte: String =
    s"""corpus AS ($PayloadCorpusSql),
       |${paySimsCtes("SELECT doc_id, text FROM corpus", "")},
       |p AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.simhash AS sh_a, y.simhash AS sh_b
       |      FROM ch x JOIN ch y
       |        ON x.chunk_idx = y.chunk_idx AND x.chunk_val = y.chunk_val AND x.doc_id < y.doc_id),
       |h AS (SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming FROM p)""".stripMargin

  /** The payload-simhash derivation chain (hex windows → byte 4-grams →
    * h56 → ±1 bit votes → simhash → chunk rows) over `src`, every CTE
    * name prefixed with `p` so two chains (base corpus vs arriving
    * batch, the stored-gate oracle) can coexist in one query.
    */
  private def paySimsCtes(src: String, p: String): String =
    s"""${p}hx AS (SELECT doc_id, hex(encode(text)) AS hx FROM ($src)),
       |${p}g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(length(hx)//2 - 3, 1)+1), i -> substr(hx, 2*i-1, 8)))) AS g
       |  FROM ${p}hx),
       |${p}th AS (SELECT doc_id, ${h56Duck("g")} AS h FROM ${p}g),
       |${p}bitsums AS (SELECT doc_id,
       |    $paySimBitSums
       |  FROM ${p}th GROUP BY doc_id),
       |${p}sims AS (SELECT doc_id, CAST($paySimAssemble AS BIGINT) AS simhash FROM ${p}bitsums),
       |${p}ch AS (
       |  ${payChunkUnion(p)}
       |)""".stripMargin

  /** The payload-copy corpus in DuckDB SQL (mirrors
    * [[Multimodal.payloadDupCorpus]] — text stands in for the payload
    * bytes, see the mm_payload_dedup oracle note).
    */
  private val PayloadCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 70000000, text FROM documents WHERE doc_id % 10 = 0
      |UNION ALL SELECT doc_id + 80000000, substr(text,1,10) || 'x' || substr(text,12) FROM documents WHERE doc_id % 13 = 0""".stripMargin

  private val paySimBitSums = (0 until Multimodal.PayloadSimBits).map(j =>
    s"SUM(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(",\n    ")
  private val paySimAssemble = (0 until Multimodal.PayloadSimBits).map(j =>
    s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
  private def payChunkUnion(p: String): String = {
    val chunkBits = Multimodal.PayloadSimBits / Multimodal.PayloadSimChunks
    (0 until Multimodal.PayloadSimChunks).map(c =>
      s"SELECT doc_id, simhash, $c AS chunk_idx, (simhash // ${1L << (c * chunkBits)}) % ${1L << chunkBits} AS chunk_val FROM ${p}sims")
      .mkString("\n  UNION ALL ")
  }

  /** [[Multimodal.payloadIngestBatch]] in DuckDB SQL (payload = UTF-8 of
    * the text expression, the mm_payload_dedup convention).
    */
  private val PayloadIngestBatchSql: String =
    """SELECT doc_id + 70000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      |UNION ALL SELECT doc_id + 80000000, substr(text,1,10) || 'x' || substr(text,12) FROM documents WHERE doc_id % 13 = 0
      |UNION ALL SELECT doc_id + 90000000, 'npay-' || CAST(doc_id AS VARCHAR) || repeat(' zqx', 40) FROM documents WHERE doc_id % 17 = 0""".stripMargin
}
