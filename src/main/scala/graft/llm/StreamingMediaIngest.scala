package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The LIVE media ingest loop — [[StreamingIngest]]'s multimodal twin:
  * a file-stream of media batches (opaque binary `payload` + typed
  * metadata, the [[Multimodal.media]] schema) gates each micro-batch
  * against the stored payload-simhash index
  * ([[Multimodal.buildPayloadIndex]] — ref Flash-CDC has no media
  * analog; this is the extension surface's production loop), admits the
  * genuinely-new rows into an epoch-partitioned media corpus, and keeps
  * the index in lockstep behind the same epoch commit.
  *
  * Crash-window reasoning (the [[StreamingIngest]] ordering discipline,
  * simplified by there being ONE stored artifact): the corpus write is
  * an epoch-keyed dynamic-partition overwrite (idempotent under
  * replay), and the index append commits LAST —
  *  - crash before the corpus write: clean replay, nothing landed;
  *  - crash after the corpus write, before the append: the replayed
  *    gate re-admits (its own chunks are not in the index yet), the
  *    corpus partition overwrites with identical rows, the append runs
  *    once — net exactly-once;
  *  - crash after the append, before the commit: the replayed gate
  *    SELF-CANCELS (a payload is Hamming-0 from its own indexed copy),
  *    `kept` is empty, and a dynamic-mode overwrite with no rows
  *    touches no partition — the corpus survives intact and the index
  *    is not appended twice. A PARTIAL append (the one window that can
  *    duplicate chunk rows) is gate-harmless (distance to a duplicate
  *    row is the same distance) and [[Multimodal.compactPayloadIndex]]'s
  *    dedupRows collapses it at the maintenance cadence.
  * Mutually-near payloads admitted in one epoch replay the same way:
  * both self-cancel against the index, the corpus keeps both — no
  * permanent absence (the text loop needs `excludeBatchIds` for this
  * only because its minhash append must NOT self-cancel partially while
  * other artifacts already committed; with one artifact the self-cancel
  * is total and safe).
  *
  * Per-epoch work discipline: the payload bytes are read ONCE — the
  * fused `payload_simhash` pass ([[Multimodal.payloadSims]]) persists,
  * [[Multimodal.payloadChunks]] derives off it, and the probe AND the
  * survivor append both read the caches; every cache releases before
  * the epoch commits. At 100 TB the loop's steady-state cost per epoch
  * is the batch's own simhash pass plus a chunk-table probe pruned to
  * ≤ 64 (chunk_idx, ck_bucket) directories.
  */
object StreamingMediaIngest {

  /** Start the loop: `srcDir` a parquet file-stream of media batches
    * (schema inferred from files already present; must carry `doc_id`
    * and binary `payload`), `indexDir` a
    * [[Multimodal.buildPayloadIndex]] artifact, `outDir` the admitted
    * media corpus (epoch-partitioned), `ckpDir` the checkpoint. One
    * file per micro-batch; AvailableNow drains the backlog then
    * terminates — production swaps the trigger, nothing else.
    * `compactEvery` > 0 folds the index's append files every Nth epoch.
    * `epochHook` runs after the epoch's writes and before its commit —
    * the failure-injection seam the replay specs use.
    */
  def start(spark: SparkSession, srcDir: String, indexDir: String,
      outDir: String, ckpDir: String,
      maxHamming: Int = Multimodal.PayloadMaxHamming,
      compactEvery: Int = 0,
      epochHook: Long => Unit = _ => ()): StreamingQuery = {
    // startup recovery: a previous run may have died inside a
    // compaction/prune/GC swap, leaving the chunk table or the corpus
    // missing or half-swapped — roll back (or finish) before the first
    // probe and the first commit, each artifact from its descriptor
    graft.fs.StoredArtifact.EpochCorpus.recover(outDir)
    graft.fs.StoredArtifact.PayloadIndex.recover(indexDir)
    val schema = spark.read.parquet(srcDir).schema
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
        // ONE payload pass per epoch: probe and append share the caches
        val sims = Multimodal.payloadSims(batch).persist(lvl)
        val chunks = Multimodal.payloadChunks(sims).persist(lvl)
        val survivors = Multimodal
          .incrementalPayloadDedupIndexedFrom(sims, chunks, indexDir, maxHamming)
        val kept = batch.join(survivors, Seq("doc_id"), "left_semi")
          .persist(lvl)
        // effectively-once corpus: epoch-keyed dynamic partition overwrite
        graft.fs.StoredTable.commitEpoch(kept, epoch, outDir)
        // the index append commits LAST — see the self-cancel reasoning
        // in the object scaladoc
        Multimodal.appendPayloadIndexFrom(
          chunks.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"),
          indexDir)
        kept.unpersist()
        chunks.unpersist()
        sims.unpersist()
        // failure-injection seam: after the writes, before the commit
        epochHook(epoch)
        if (compactEvery > 0 && epoch % compactEvery == (compactEvery - 1))
          Multimodal.compactPayloadIndex(spark, indexDir)
        ()
      }
      .start()
  }
}
