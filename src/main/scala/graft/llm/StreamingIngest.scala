package graft.llm

import graft.fs.{StoredArtifact, StoredTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The near-dup ingest gate as a LIVE pipeline — the production
  * steady-state the materialized LSH index exists for, wired end-to-end
  * over Structured Streaming: document batches arrive as files, each
  * micro-batch probes the stored band/signature index
  * ([[LlmOps.incrementalDedupMinHashIndexed]] — base corpus text is never
  * touched), survivors append to the output corpus AND to the index
  * ([[LlmOps.appendMinHashIndex]]), so a near-copy arriving in a LATER
  * batch is caught against a survivor admitted earlier. Delivery and
  * index maintenance run inside `foreachBatch` behind the checkpoint — the
  * same gated-commit discipline as [[graft.cdc.Streaming]]. An epoch that
  * fails mid-write is replayed whole, and every crash point lands
  * consistent: the corpus write is effectively-once (epoch-keyed dynamic
  * partition overwrite — a replayed epoch replaces its own output), and a
  * replay whose index append already committed SELF-CANCELS — the gate
  * sees the batch's own docs in the index (a doc is an exact copy of
  * itself, always over threshold) and drops the whole batch, appending
  * nothing twice. Index duplicates can only arise from a PARTIAL append
  * (signatures committed, bands not — or the ANN append committed before
  * the minhash rows); they are output-harmless (candidates and dup sets
  * are distinct-ed) and the next compaction erases them (`dedupRows`).
  * The one remaining window is a crash INSIDE a compaction swap itself
  * (two renames — not atomic): `start` recovers every artifact it reads
  * or writes, the admitted corpus included
  * ([[graft.fs.StoredArtifact.recover]]), before the stream begins,
  * rolling an interrupted swap back, so the restarted loop never probes
  * a half-swapped index nor commits next to a stepped-aside corpus. The
  * loop as a whole is effectively-once at its maintenance cadence.
  *
  * At 100 TB this is the shape that holds: per-batch cost is the batch's
  * own signature derivation plus a narrow columnar probe of the index —
  * flat-ish in corpus size — and each epoch appends files ∝ batch size;
  * nothing ever rewrites or re-reads the admitted corpus. Intra-batch
  * near-dups are deliberately out of scope for the gate (batches are
  * small; compose [[LlmOps.dedupMinHash]] inside the batch when they
  * matter) — exactly the contract of the batch variant.
  */
object StreamingIngest {

  /** Start the gate: `srcDir` is a parquet file-stream of document
    * batches (schema inferred from the files already present),
    * `indexDir` a [[LlmOps.buildMinHashIndex]] artifact, `outDir` the
    * admitted corpus, `ckpDir` the checkpoint. One file per micro-batch
    * (credit-based admission, as the CDC source); AvailableNow drains the
    * backlog then terminates — production swaps the trigger, nothing
    * else. `compactEvery` > 0 folds the indexes' accumulated append files
    * ([[LlmOps.compactMinHashIndex]] / [[LlmOps.compactAnnIndex]]) after
    * every Nth epoch — the maintenance cadence a long-running ingest
    * schedules so probe-file counts stay bounded by the cadence, not the
    * epoch count.
    *
    * `annIndexDir` additionally keeps a stored [[LlmOps.buildAnnIndex]]
    * cell table in lockstep with the corpus: each admitted survivor's
    * embedding (`vecCol`, cell pre-assigned in `cellCol` — both columns
    * of the batch) appends behind the same epoch commit, so a retrieval
    * probe sees a document as soon as its epoch commits. The ANN append
    * runs BEFORE the minhash append deliberately: a crash between the
    * two replays the epoch, and because the minhash rows are not yet
    * committed the gate re-admits the batch — the ANN rows land twice (a
    * DUPLICATE, which [[LlmOps.compactAnnIndex]]'s dedupRows heals at the
    * compaction cadence). The reverse order would turn the same crash
    * into an ABSENCE: the replayed gate would self-cancel off the
    * committed minhash rows and the vectors would never be appended —
    * and no maintenance pass can heal rows that don't exist.
    *
    * `semanticThreshold` (requires `annIndexDir`) turns the stored cell
    * table into a SECOND gate: a minhash survivor whose embedding has
    * cell-restricted cosine ≥ the threshold against an already-ingested
    * vector ([[LlmOps.incrementalDedupCosineIndexedFrom]]) is dropped
    * too — syntactic near-copies caught by shingles, paraphrases by the
    * embedding, the composed production filter. The semantic probe
    * excludes the BATCH's entire id set from the index side
    * (`excludeBatchIds`) so a replayed epoch is re-admitted rather than
    * (even partially) self-cancelled — with two sequenced appends only
    * ONE gate may self-cancel (the minhash one, whose append commits
    * last). Excluding only same-id matches would not be enough: two
    * mutually-near survivors admitted together would each find the
    * other's committed vector on replay and both would drop, leaving
    * their minhash rows permanently missing (spec'd in
    * StreamingIngestSpec).
    * The epoch derives (vec_id, e, label, nrm) ONCE, shared between the
    * semantic probe and the ANN append ([[LlmOps.appendAnnIndexFrom]]).
    *
    * `fluencyThreshold` (requires `lmDir`, a stored
    * [[LlmOps.buildFluencyModel]] artifact) adds a STATELESS quality
    * gate between the minhash and semantic probes: each minhash survivor
    * scores against the frozen reference LM
    * ([[LlmOps.fluencyStoredFrom]]) and is dropped below the bar —
    * the CCNet-style perplexity filter, composed from the same stored
    * artifact the `llm_fluency_idx` query probes. The gate touches no
    * index and appends nothing, so it adds NO crash window: a replayed
    * epoch scores identically against the generation-frozen model.
    * Short docs (< 2 tokens, no transition evidence) drop with the
    * disfluent ones. A per-language model (`byLang` build) at `lmDir`
    * scores each doc under its own language's frozen model (the batch's
    * `lang` column labels it, checked at start), the probe prunes by
    * (lang, wb), and the crash reasoning is unchanged.
    *
    * `lmCutsDir` (+ `midPermille`, requires `lmDir`) swaps the absolute
    * bar for the production CCNet SELECTION RULE: each minhash survivor
    * scores against the frozen reference LM and the frozen
    * [[LlmOps.buildLmPartitioner]] tercile cuts (calibrated against the
    * same model, so keyed alike) route it — `head` kept
    * whole, `middle` kept at midPermille/1000 by salted doc-id hash,
    * `tail` dropped ([[LlmOps.lmSelectIdsFrom]], the exact rule
    * [[LlmOps.lmPartitionApply]] states in batch). Composes with
    * `fluencyThreshold` when both are on (the bar filters first, the
    * cuts select among the survivors); both artifacts are generation-
    * frozen and the middle sample is deterministic in the id, so a
    * replayed epoch selects identically — zero new crash windows.
    *
    * `pqIndexDir` keeps a stored [[LlmOps.buildPqIndex]] serving index in
    * lockstep as well: survivors' vectors are encoded against the FROZEN
    * codebook ([[LlmOps.appendPqIndex]]) and their packed codes land in
    * the cell partitions behind the same epoch commit — ordered with the
    * ANN append (before minhash) so every crash window replays into a
    * compaction-healable duplicate, never an absence.
    *
    * `qualityGate` composes [[TextAnalysis.qualityFilter]] as the
    * LEADING stage — funnel parity: with every option on, the live loop
    * runs exactly [[LlmOps.curationFunnel]]'s order (quality → near
    * dedup → fluency → semantic), so the streaming and batch surfaces
    * agree on stage 1. It runs BEFORE the shingling deliberately: a
    * pure per-doc predicate shrinks every downstream derivation
    * (signatures, bands, bigrams, vectors), touches no stored artifact,
    * and is replay-deterministic — zero added crash windows.
    *
    * `qualityModelDir` (+ `qualityTau`) deploys the TRAINED quality gate
    * ([[LlmOps.buildQualityClassifier]]) in the same leading slot — the
    * distillation loop's production end: the classifier is trained
    * OFFLINE from the heuristic gate's labels and the live loop scores
    * each batch against the frozen weight table
    * ([[LlmOps.qualityScoreStored]] — weight scan pruned to the batch's
    * token buckets, batch side broadcast, ONE single-row footprint job
    * per epoch). Like the LM and gram artifacts it is generation-frozen
    * and read-only in the loop — replay scores identically, zero crash
    * windows; rebuilds swap atomically and `start` recovers a crashed
    * swap. When both quality options are on, the heuristic predicate
    * runs FIRST (a pure projection is cheaper than the probe's pruned
    * join, and whatever it drops never costs a weight lookup) — the
    * composed stage admits docs passing BOTH the rules and the learned
    * bar, and the trained probe's batch footprint shrinks accordingly.
    *
    * Per-epoch work discipline: the batch is shingled ONCE
    * ([[LlmOps.signaturesOf]]/[[LlmOps.bandsOf]], persisted) and the
    * cached frames feed both the probe and the survivor append; every
    * cache the epoch pins is released before the epoch commits — a
    * long-running stream holds no state across epochs.
    */
  def start(spark: SparkSession, srcDir: String, indexDir: String,
      outDir: String, ckpDir: String, threshold: Double = 0.6,
      idCol: String = "doc_id", textCol: String = "text",
      compactEvery: Int = 0,
      annIndexDir: Option[String] = None,
      vecCol: String = "embedding", cellCol: String = "label",
      semanticThreshold: Option[Double] = None,
      pqIndexDir: Option[String] = None,
      lmDir: Option[String] = None,
      fluencyThreshold: Option[Double] = None,
      lmCutsDir: Option[String] = None,
      midPermille: Int = 500,
      qualityGate: Boolean = false,
      qualityModelDir: Option[String] = None,
      qualityTau: Double = 1.0,
      decontamIndexDir: Option[String] = None,
      maxSharedGrams: Long = 0L,
      epochHook: Long => Unit = _ => ()): StreamingQuery = {
    require(semanticThreshold.isEmpty || annIndexDir.nonEmpty,
      "semanticThreshold needs annIndexDir: the semantic gate probes the stored cell table")
    require(fluencyThreshold.isEmpty || lmDir.nonEmpty,
      "fluencyThreshold needs lmDir: the fluency gate scores against a stored bigram LM")
    require(lmCutsDir.isEmpty || lmDir.nonEmpty,
      "lmCutsDir needs lmDir: the frozen cuts were calibrated against the " +
        "stored model the selection's scores must come from")
    // startup recovery: a previous run may have died INSIDE a swap — a
    // compaction (table level), a rebuild (the artifact parent renamed
    // away mid-generation-change, read-only artifacts included) or a
    // corpus GC — leaving a directory missing or half-swapped. Each
    // artifact recovers from its descriptor, root first, so the first
    // probe never reads a half-swapped index and the first commit never
    // writes into a fresh corpus next to the stepped-aside old one — the
    // crash window the epoch-replay reasoning below doesn't cover on its
    // own.
    StoredArtifact.EpochCorpus.recover(outDir)
    StoredArtifact.MinHashIndex.recover(indexDir)
    annIndexDir.foreach(StoredArtifact.AnnIndex.recover)
    pqIndexDir.foreach(StoredArtifact.PqIndex.recover)
    lmDir.foreach(StoredArtifact.FluencyModel.recover)
    lmCutsDir.foreach(StoredArtifact.LmCuts.recover)
    decontamIndexDir.foreach(StoredArtifact.DecontamIndex.recover)
    qualityModelDir.foreach(StoredArtifact.QualityModel.recover)
    val src = spark.read.parquet(srcDir)
    val schema = src.schema
    // the LM's key (`lang` for a per-language model), read back from the
    // recovered artifact: the epoch's bigram cache carries it
    val lmKey = lmDir.toSeq.flatMap { ld =>
      val (_, key) = LlmOps.readKeyed(spark, StoredTable.Bigrams, ld)
      LlmOps.requireKey(src, key, ld)
      key
    }
    graft.streaming.NioCheckpointFileManager.install(spark)
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckpDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // the LEADING stateless gate — funnel parity with
        // [[LlmOps.curationFunnel]]'s stage 1: the heuristic quality
        // filter runs FIRST, before the shingling, because it is a pure
        // per-doc predicate (no stored artifact, no crash window,
        // replay-deterministic for free) and every downstream
        // derivation — signatures, bands, bigrams, vectors — shrinks by
        // whatever it drops
        val admitted0 =
          if (!qualityGate) batch
          else batch.join(
            TextAnalysis.qualityFilter(batch, idCol, textCol)
              .filter(col("keep")).select(col("doc_id").as(idCol)),
            Seq(idCol), "left_semi")
        // the TRAINED quality gate shares the leading slot (after the
        // heuristic when both are on — the cheaper predicate shrinks
        // this probe's batch): scores against the frozen weight table,
        // keeps docs at or over the τ bar. Generation-frozen artifact ⇒
        // replay-deterministic, no crash window.
        val admitted = qualityModelDir match {
          case Some(qDir) =>
            val learned = LlmOps
              .qualityScoreStored(admitted0, qDir, qualityTau, idCol, textCol)
              .filter(col("pred")).select(col("doc_id").as(idCol))
            admitted0.join(learned, Seq(idCol), "left_semi")
          case None => admitted0
        }
        // ONE shingling job per epoch: the persisted signature/band pair
        // feeds the probe, the survivor append, AND (when on) the
        // decontamination gate below
        val sig = LlmOps.signaturesOf(admitted, idCol, textCol).persist(lvl)
        // the optional BENCHMARK-LEAKAGE gate — stateless like the
        // quality stage (the gram artifact is a frozen benchmark
        // version; no append, no crash window, replay-deterministic):
        // docs sharing more than maxSharedGrams shingles with the
        // stored evaluation suite never enter the corpus or any index.
        // Runs off the epoch's shared signature cache, BEFORE the index
        // probe so the contaminated slice never costs a band join. Not
        // re-persisted: both consumers re-derive via a semi-join on the
        // cached sig frame.
        val sigGate = decontamIndexDir match {
          case Some(dDir) =>
            val clean = LlmOps.decontaminateStoredFrom(sig, dDir)
              .filter(col("n_shared") <= maxSharedGrams)
              .select(col("doc_id"))
            sig.join(clean, Seq("doc_id"), "left_semi")
          case None => sig
        }
        val bands = LlmOps.bandsOf(sigGate).persist(lvl)
        // the gate returns canonical doc_id — rename back for the semi join
        val survivors = LlmOps
          .incrementalDedupMinHashIndexedFrom(sigGate, bands, indexDir, threshold)
          .withColumnRenamed("doc_id", idCol)
        // with a downstream gate on, kept0 feeds more than one
        // materialization (a gate's footprint collect and the corpus
        // write) — persisted so the minhash probe joins run once per epoch
        val kept0raw = admitted.join(survivors, Seq(idCol), "left_semi")
        val moreGates = semanticThreshold.isDefined ||
          fluencyThreshold.isDefined || lmCutsDir.isDefined
        val kept0 = if (moreGates) kept0raw.persist(lvl) else kept0raw
        // the optional STATELESS quality gate: minhash survivors score
        // against the stored bigram LM and must clear the fluency bar.
        // Runs before the semantic probe (a pure filter shrinks that
        // probe's work and touches no index), and replay-safety is free:
        // the model is a frozen generation artifact, so a replayed epoch
        // scores identically. Docs with fewer than two tokens have no
        // transition evidence and drop with the disfluent ones — the
        // short-doc discipline of a production LM filter.
        // a global or a PER-LANGUAGE reference model: same gate slot,
        // same frozen-artifact replay reasoning — only the bigram rows
        // (the model's key rides each) and the probe's pruning key
        // ((lang, wb) instead of wb) differ. The per-language form is the
        // CCNet regime: each doc scores under ITS language's model, so a
        // minority-language batch never pays (or gets judged by) the
        // majority's transition mass.
        // the LM stage scores ONCE per epoch off the shared bigram
        // cache, then applies whichever selections are on: the absolute
        // bar (fluencyThreshold), the frozen-cuts CCNet selection
        // (lmCutsDir — head kept whole, middle salted-sampled at
        // midPermille, tail dropped: [[LlmOps.lmSelectIdsFrom]], the
        // production CCNet regime replacing-or-tightening the bar), or
        // both composed. Cuts and model are frozen generation artifacts
        // and the middle sample is a deterministic id hash — a replayed
        // epoch selects identically, zero new crash windows.
        val lmGateOn = fluencyThreshold.isDefined || lmCutsDir.isDefined
        val bgF = if (!lmGateOn) None
          else Some(LlmOps.docBigrams(kept0, idCol, textCol, lmKey).persist(lvl))
        val kept1 = bgF match {
          case Some(bgf) =>
            val scored = LlmOps.fluencyStoredFrom(bgf, lmDir.get)
            val afterBar = fluencyThreshold match {
              case Some(ft) => scored.filter(col("fluency") >= ft)
              case None     => scored
            }
            val keepIds = lmCutsDir match {
              case Some(cd) =>
                LlmOps.lmSelectIdsFrom(afterBar, cd, midPermille)
              case None => afterBar.select(col("doc_id"))
            }
            kept0.join(keepIds.select(col("doc_id").as(idCol)),
              Seq(idCol), "left_semi")
          case None => kept0
        }
        // the optional SECOND index gate: fluency survivors probe the
        // stored cell table; the (vec_id, e, label, nrm) frame is derived
        // once and reused by the ANN append below
        val bVec = semanticThreshold.map { _ =>
          kept1.select(col(idCol).as("vec_id"),
              col(vecCol).cast("array<double>").as("e"),
              col(cellCol).as("label"))
            .withColumn("nrm",
              org.apache.spark.sql.functions.expr(s"sqrt(${LlmOps.dotSql("e", "e")})"))
            .persist(lvl)
        }
        val kept = (semanticThreshold, bVec) match {
          case (Some(t), Some(bv)) =>
            val semOk = LlmOps
              .incrementalDedupCosineIndexedFrom(bv, annIndexDir.get, t,
                excludeBatchIds = true)
              .withColumnRenamed("vec_id", idCol)
            kept1.join(semOk, Seq(idCol), "left_semi").persist(lvl)
          case _ => kept1.persist(lvl)
        }
        // effectively-once corpus: epoch-keyed dynamic partition overwrite
        // (the cdc.Streaming.startToParquetIdempotent discipline) — a
        // replayed epoch overwrites its own partition instead of
        // re-appending
        StoredTable.commitEpoch(kept, epoch, outDir)
        // ANN first, minhash second — see the ordering note above
        annIndexDir.foreach { aDir =>
          bVec match {
            case Some(bv) => LlmOps.appendAnnIndexFrom(
              bv.join(kept.select(col(idCol).as("vec_id")),
                Seq("vec_id"), "left_semi"), aDir)
            case None => LlmOps.appendAnnIndex(
              kept.select(col(idCol).as("vec_id"), col(vecCol), col(cellCol)),
              aDir, "vec_id", vecCol, cellCol)
          }
        }
        // PQ codes (encoded against the stored FROZEN codebook) keep the
        // serving index in lockstep too — like the ANN append, before the
        // minhash append, so a crash window replays into a healable
        // duplicate rather than a permanent absence
        pqIndexDir.foreach { pDir =>
          LlmOps.appendPqIndex(
            kept.select(col(idCol).as("vec_id"), col(vecCol),
              col(cellCol).as("label")), pDir, "vec_id", vecCol, "label")
        }
        val keptIds = kept.select(col(idCol).as("doc_id"))
        LlmOps.appendMinHashIndexFrom(
          sig.join(keptIds, Seq("doc_id"), "left_semi"),
          bands.join(keptIds, Seq("doc_id"), "left_semi"), indexDir)
        kept.unpersist()
        if (moreGates) kept0.unpersist()
        bgF.foreach(_.unpersist())
        bVec.foreach(_.unpersist())
        bands.unpersist()
        sig.unpersist()
        // failure-injection seam: runs AFTER the writes, BEFORE the epoch
        // commits — a throw here forces the exact replay the idempotence
        // claims above are about (spec'd in StreamingIngestSpec)
        epochHook(epoch)
        if (compactEvery > 0 && epoch % compactEvery == (compactEvery - 1)) {
          LlmOps.compactMinHashIndex(spark, indexDir)
          annIndexDir.foreach(LlmOps.compactAnnIndex(spark, _))
          pqIndexDir.foreach(LlmOps.compactPqIndex(spark, _))
        }
        ()
      }
      .start()
  }
}
