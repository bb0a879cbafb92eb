package graft.llm

import graft.plans.GraftExtensions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column handling: image/audio/video as opaque `binary`
  * payloads with typed metadata. The header decode is REAL byte-level
  * parsing (PNG/JPEG/GIF magic + dimensions — [[decodeMediaHeader]],
  * oracle-verified; [[decodeMediaBatch]] is the typed per-partition seam
  * where a deployment swaps in a full pixel codec, which this container
  * does not ship); binary columns, metadata schema, batch iteration, and
  * frame-sampling fan-out are all real and oracle-tested where
  * SQL-expressible.
  */
object Multimodal {

  /** Synthesize a media table from `documents`: the UTF-8 bytes of the text
    * stand in for the encoded payload; codec/width/height derive from
    * doc_id. At 100 TB the payload column stays opaque binary — only
    * metadata participates in filters/joins, so scans prune it unless the
    * decode stage is reached.
    */
  def media(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      element_at(array(lit("png"), lit("jpeg"), lit("mp4")),
        (col("doc_id") % 3).cast("int") + 1).as("codec"),
      (lit(64L) + (col("doc_id") % 16) * 8).as("width"),
      (expr("64 + ((doc_id div 16) % 16) * 8")).as("height"),
      col("text"))

  /** Metadata projection: sizes + content checksum, payload pruned. */
  def mediaMeta(docs: DataFrame): DataFrame =
    media(docs).select(
        col("doc_id"), col("codec"), col("width"), col("height"),
        octet_length(col("payload")).cast("bigint").as("n_bytes"),
        md5(col("payload")).as("checksum"))

  /** Frame sampling: each media row fans out to 1+doc_id%4 evenly-spaced
    * "frames"; the frame signature is a deterministic fake (a 12-char
    * window of the payload at the frame offset). The *shape* — generator
    * fan-out with per-frame offsets — is exactly what a real video
    * frame-sampler produces.
    */
  def frameSample(docs: DataFrame): DataFrame =
    media(docs)
      .withColumn("n_frames", (col("doc_id") % 4 + 1).cast("int"))
      .withColumn("step", expr("octet_length(payload) div n_frames"))
      .select(col("doc_id"), col("n_frames"), col("step"), col("text"),
        explode(expr("sequence(0, n_frames - 1)")).as("frame_idx"))
      .select(
        col("doc_id"), col("frame_idx").cast("bigint").as("frame_idx"),
        (col("frame_idx").cast("bigint") * col("step")).as("frame_off"),
        expr("substr(text, frame_idx * step + 1, 12)").as("frame_sig"))

  // ------------------------------------------------- media payload dedup

  /** Harness fixture for the payload-dedup pair: the media corpus ∪ exact
    * byte copies of every 10th payload (id +70000000) ∪ near copies of
    * every 13th (ONE byte overwritten at offset 10 — byte-level, since
    * payload = UTF-8(text) the oracle mirrors it as a char substitution).
    * Id offsets disjoint from every other injection fixture.
    */
  def payloadDupCorpus(docs: DataFrame): DataFrame =
    media(docs).select("doc_id", "payload")
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 70000000L).as("doc_id"),
          encode(col("text"), "UTF-8").as("payload")))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 80000000L).as("doc_id"),
          encode(concat(substring(col("text"), 1, 10), lit("x"),
            expr("substr(text, 12)")), "UTF-8").as("payload")))

  /** Exact media dedup — the FIRST multimodal operation of a training-data
    * pipeline: group by the payload's content hash, keep the lowest id.
    * [[graft.llm.LlmOps.dedupExact]] over bytes instead of text: one
    * map-side-combinable groupBy on a 32-hex key, the payload itself never
    * crosses the shuffle — the only shape that stands at 100 TB of media.
    */
  def payloadDedup(docs: DataFrame): DataFrame =
    payloadDupCorpus(docs)
      .groupBy(md5(col("payload")).as("payload_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies", "payload_hash")

  /** SimHash width for [[payloadNearDedup]] — wider than the 16-bit text
    * simhash: byte-gram sets of same-domain media correlate heavily, and
    * at 16 bits random pairs pile up at low Hamming distance (measured:
    * hundreds of distance-0 collisions on the sf0.01 fixture); at 32 the
    * distance distribution separates cleanly.
    */
  val PayloadSimBits   = 32
  /** Blocking chunks: 4 × 8 bits, so any pair within Hamming distance
    * [[PayloadMaxHamming]] (= 3) agrees on ≥1 whole chunk — pigeonhole —
    * and blocking recall is 1.0 by construction.
    */
  val PayloadSimChunks = 4
  val PayloadMaxHamming = 3

  /** Near-dup detection over binary payloads — simhash over byte 4-grams:
    * slide a 4-byte (stride one) window, hash each distinct gram (as its
    * uppercase-hex string through the 56-bit md5 prefix), per-bit ±1
    * votes → 32-bit simhash; candidate pairs agree on ≥1 of 4 8-bit
    * simhash chunks (the banded-LSH idea of
    * [[graft.llm.LlmOps.dedupMinHash]] applied to Hamming space), verified
    * by `bit_count(xor) ≤ 3`. Catches re-encodes/retouches that change a
    * few bytes — exactly what [[payloadDedup]]'s exact hash misses. The
    * whole signature derives inside the scan's codegen stage via the fused
    * [[graft.functions.PayloadSimHash]] expression (one pass per payload —
    * the SQL form exploded ~one gram row per payload byte and funneled
    * them through a 32-aggregate groupBy; at 100 TB that shuffle is the
    * corpus, the fused form shuffles one long per document). The self-join
    * runs on chunk buckets only (256 values per chunk — candidate mass is
    * bounded by near-dup density plus the chunk collision rate, never
    * all-pairs).
    */
  def payloadNearDedup(docs: DataFrame,
      maxHamming: Int = PayloadMaxHamming): DataFrame = {
    val chunkBits = PayloadSimBits / PayloadSimChunks
    // persisted: both sides of the chunk self-join read it (the
    // minHashCandidates band-table discipline)
    val sims = GraftExtensions.register(payloadDupCorpus(docs))
      .select(col("doc_id"), expr("payload_simhash(payload)").as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunks = sims.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until PayloadSimChunks).map(c =>
        expr(s"(simhash div ${1L << (c * chunkBits)}) % ${1L << chunkBits}")): _*))
        .as(Seq("chunk_idx", "chunk_val")))
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)").cast("bigint"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Terminal media dedup — the [[graft.llm.LlmOps.dedupApply]] step over
    * payload pairs: exact byte copies pair at Hamming 0 (identical bytes →
    * identical simhash), so [[payloadNearDedup]]'s pair set subsumes
    * [[payloadDedup]]'s groups; connected components collapse transitive
    * copy chains and the cluster-min keeper survives. Output is (doc_id,
    * n_bytes) — identity plus a size witness, the payload itself never
    * enters the compare. Same scale shape as the text pipeline: chunk-
    * bucketed pair generation, adaptive CC, one anti-join.
    */
  def payloadDedupApply(docs: DataFrame): DataFrame =
    graft.llm.LlmOps.dedupApply(
        payloadDupCorpus(docs),
        payloadNearDedup(docs).select("id_a", "id_b"))
      .select(col("doc_id"),
        octet_length(col("payload")).cast("bigint").as("n_bytes"))

  // ------------------------------------------- stored payload-simhash index

  /** Directory fan-out of the stored payload index ([[buildPayloadIndex]]):
    * chunk values bucket into [[PayloadChunkBuckets]] directories per
    * chunk_idx, the (band_idx, bk_bucket) discipline of
    * [[graft.llm.LlmOps.buildMinHashIndex]] applied to Hamming space — a
    * probe's footprint is ≤ [[PayloadSimChunks]] × buckets = 64 directory
    * pairs, so the static partition filter stays driver-bounded no matter
    * the batch or index size. At 100 TB only this constant grows.
    */
  val PayloadChunkBuckets: Int = 16

  /** The (doc_id, simhash) signature frame for a media corpus — the one
    * derivation every stored-payload-index operation starts from
    * ([[graft.llm.LlmOps.signaturesOf]]'s payload twin). The fused
    * [[graft.functions.PayloadSimHash]] expression derives the signature
    * inside the scan; the payload never crosses a shuffle.
    */
  def payloadSims(mediaDf: DataFrame): DataFrame =
    GraftExtensions.register(mediaDf)
      .select(col("doc_id"), expr("payload_simhash(payload)").as("simhash"))

  /** The exploded (doc_id, simhash, chunk_idx, chunk_val, ck_bucket) block
    * rows over a [[payloadSims]] frame — the stored chunk table's row
    * shape. The full simhash rides along in every chunk row, so the probe
    * verifies Hamming distance directly on the joined rows: unlike the
    * MinHash index there is NO second signature table and no verify join.
    */
  def payloadChunks(sims: DataFrame): DataFrame = {
    val chunkBits = PayloadSimBits / PayloadSimChunks
    sims.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until PayloadSimChunks).map(c =>
        expr(s"(simhash div ${1L << (c * chunkBits)}) % ${1L << chunkBits}")): _*))
        .as(Seq("chunk_idx", "chunk_val")))
      .withColumn("ck_bucket", pmod(col("chunk_val"), lit(PayloadChunkBuckets)))
  }

  /** Materialize the payload near-dup index for a media corpus under
    * `dir`: ONE `chunks/` table ([[payloadChunks]] rows, 4 per payload),
    * directory-partitioned by (chunk_idx, ck_bucket) so an ingest batch's
    * probe prunes to the directories its own chunk values land in. Written
    * through [[graft.cdc.Compaction.swapDir]] — atomic create-or-replace,
    * a crashed rebuild leaves the old generation serving. The corpus'
    * payload bytes are read ONCE here and never again: every later batch
    * gates against 4 longs per indexed payload.
    */
  def buildPayloadIndex(mediaDf: DataFrame, dir: String): Unit =
    graft.cdc.Compaction.swapDir(s"$dir/chunks") { tmp =>
      payloadChunks(payloadSims(mediaDf))
        .repartition(col("chunk_idx"), col("ck_bucket"))
        .write.mode("overwrite").partitionBy("chunk_idx", "ck_bucket")
        .parquet(tmp)
    }

  /** The steady-state media ingest gate over a STORED payload index —
    * [[graft.llm.LlmOps.incrementalDedupMinHashIndexed]]'s multimodal
    * twin: batch payloads whose simhash lands within `maxHamming` of any
    * indexed payload drop; the genuinely-new survive. The batch's bounded
    * (chunk_idx, ck_bucket) footprint pins a STATIC partition filter on
    * the chunk scan (≤ 4 × [[PayloadChunkBuckets]] = 64 literal pairs —
    * driver-safe regardless of batch size), the batch side carries a
    * size-gated broadcast hint, and the Hamming verify runs directly on
    * the joined chunk rows — the index is pruned, streamed, and never a
    * broadcast build side (PlanQualitySpec "stored payload index probe"
    * pins the shape). Per-batch cost tracks the batch's chunk-value set,
    * not the index size.
    *
    * Like the text gate, the call is eager about one small thing: ONE
    * fused single-row aggregate (footprint + size-gate row count, the
    * [[graft.llm.LlmOps.mhFpAgg]] discipline) that materializes the
    * persisted batch signature/chunk caches, which back the returned
    * lazy frame until the caller's post-materialization cache clear.
    */
  def incrementalPayloadDedupIndexed(batch: DataFrame, indexDir: String,
      maxHamming: Int = PayloadMaxHamming): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bSims = payloadSims(batch).persist(lvl)
    val bChunks = payloadChunks(bSims).persist(lvl)
    incrementalPayloadDedupIndexedFrom(bSims, bChunks, indexDir, maxHamming)
  }

  /** [[incrementalPayloadDedupIndexed]] over caller-derived
    * (caller-persisted, caller-released) [[payloadSims]] /
    * [[payloadChunks]] frames — the form the live media loop uses when
    * the epoch already owns the shared simhash caches (the
    * [[graft.llm.LlmOps.incrementalDedupMinHashIndexedFrom]]
    * discipline: one payload pass per epoch, probe and append both read
    * the caches).
    */
  def incrementalPayloadDedupIndexedFrom(bSims: DataFrame,
      bChunks: DataFrame, indexDir: String,
      maxHamming: Int = PayloadMaxHamming): DataFrame = {
    val spark = bSims.sparkSession
    val fpRow = bChunks
      .agg(collect_set(struct(col("chunk_idx"), col("ck_bucket"))).as("fp"),
        count(lit(1)).as("n")).collect()(0)
    // chunk_idx is the posexplode Int; ck_bucket is a pmod over a Long
    // chunk value, so it collects as Long
    val footprint = fpRow
      .getSeq[org.apache.spark.sql.Row](fpRow.fieldIndex("fp"))
      .map(r => (r.getInt(0), r.getLong(1)))
    // the dup join is exact on (chunk_idx, ck_bucket, chunk_val), so the
    // cross-product pin is pure pruning, its over-read bounded by the
    // [[PayloadSimChunks]] × [[PayloadChunkBuckets]] directory grid
    val pruned = LlmOps.pinPartitions(
      LlmOps.readStored(spark, s"$indexDir/chunks"),
      "chunk_idx" -> footprint.map(_._1), "ck_bucket" -> footprint.map(_._2))
    val dup = pruned.as("ox").join(
        LlmOps.gateBroadcast(bChunks.as("nx"), LlmOps.fpCount(fpRow, "n")),
        col("nx.chunk_idx") === col("ox.chunk_idx") &&
          col("nx.ck_bucket") === col("ox.ck_bucket") &&
          col("nx.chunk_val") === col("ox.chunk_val"))
      .select(col("nx.doc_id").as("batch_id"),
        col("nx.simhash").as("sh_n"), col("ox.simhash").as("sh_o"))
      .filter(expr("bit_count(sh_n ^ sh_o)") <= maxHamming)
      .select(col("batch_id")).distinct()
    bSims.select("doc_id")
      .join(dup, col("doc_id") === col("batch_id"), "left_anti")
      .select("doc_id")
  }

  /** Index maintenance: append a batch's chunk rows (survivors of the
    * gate, in a production loop) into the stored index — parquet `append`
    * inside the builder's (chunk_idx, ck_bucket) directories, so pruning
    * holds across generations and each ingest adds files ∝ batch size.
    */
  def appendPayloadIndex(mediaDf: DataFrame, dir: String): Unit =
    appendPayloadIndexFrom(payloadChunks(payloadSims(mediaDf)), dir)

  /** [[appendPayloadIndex]] over an already-derived [[payloadChunks]]
    * frame — the live loop's form, appending off the epoch's shared
    * cache instead of re-reading payload bytes.
    */
  def appendPayloadIndexFrom(chunks: DataFrame, dir: String): Unit =
    chunks
      .repartition(col("chunk_idx"), col("ck_bucket"))
      .write.mode("append").partitionBy("chunk_idx", "ck_bucket")
      .parquet(s"$dir/chunks")

  /** Fold the small files [[appendPayloadIndex]] accumulates —
    * [[graft.llm.LlmOps.compactMinHashIndex]]'s twin: rewrite through the
    * compaction swap keeping the directory partitioning; `dedupRows`
    * collapses exact duplicate rows, which here can only be a REPLAYED
    * append (chunk rows are deterministic in the payload), so the
    * at-least-once append loop self-heals at maintenance cadence.
    * Returns (before, after) file counts.
    */
  def compactPayloadIndex(spark: SparkSession, dir: String): (Long, Long) =
    graft.cdc.Compaction.compactDir(spark, s"$dir/chunks",
      Seq("chunk_idx", "ck_bucket"), Seq("chunk_idx", "ck_bucket"),
      dedupRows = true)

  /** Index-health gauge over a stored [[buildPayloadIndex]] artifact —
    * per chunk position: distinct chunk values, the hottest bucket, total
    * rows. `max_bucket` is the number that pages someone: probe cost is ∝
    * bucket overlap, and same-domain media correlate heavily on byte
    * grams, so a collapsing chunk (half the corpus sharing one value)
    * turns the one-sided probe quadratic — the stop-list signal. Reads
    * only the chunk-value columns (simhash/doc_id pruned); cheap enough
    * to run after every append.
    */
  def payloadIndexStats(spark: SparkSession, dir: String): DataFrame =
    graft.llm.LlmOps.readStored(spark, s"$dir/chunks")
      .groupBy(col("chunk_idx"), col("chunk_val"))
      .agg(count(lit(1)).as("bucket"))
      .groupBy(col("chunk_idx").cast("bigint").as("chunk_idx"))
      .agg(count(lit(1)).as("n_vals"),
        max(col("bucket")).as("max_bucket"),
        sum(col("bucket")).cast("bigint").as("n_rows"))

  /** [[graft.llm.LlmOps.pruneMinHashIndexTo]] for the stored payload
    * index: drop the chunk rows of payloads no longer in the media
    * corpus, so a taken-down asset's ghost can't veto a re-encode of its
    * successor. Same swap mechanics, same restated (chunk_idx,
    * ck_bucket) layout; returns (rows before, rows after).
    */
  def prunePayloadIndexTo(mediaDf: DataFrame, dir: String,
      idCol: String = "doc_id"): (Long, Long) =
    graft.llm.LlmOps.pruneIndexTable(mediaDf.sparkSession, s"$dir/chunks",
      "doc_id", mediaDf.select(col(idCol).as("cur_id")).distinct(),
      Seq("chunk_idx", "ck_bucket"), Seq("chunk_idx", "ck_bucket"))

  /** Harness fixture for the stored-payload-index gate: the arriving
    * media batch — exact byte copies of every 10th payload (+70000000,
    * Hamming 0 against the index), the near-dup corpus' one-byte edits of
    * every 13th (+80000000), and genuinely-new synthetic payloads
    * (+90000000) whose byte 4-grams are disjoint from the text corpus.
    * Id offsets match [[payloadDupCorpus]] where the content matches.
    */
  def payloadIngestBatch(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 70000000L).as("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 80000000L).as("doc_id"),
          encode(concat(substring(col("text"), 1, 10), lit("x"),
            expr("substr(text, 12)")), "UTF-8").as("payload")))
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 90000000L).as("doc_id"),
          encode(concat(lit("npay-"), col("doc_id").cast("string"),
            expr("repeat(' zqx', 40)")), "UTF-8").as("payload")))

  /** The media corpus one crawl generation later — the coverage-audit
    * fixture ([[graft.llm.LlmOps.vecSnapshotNext]]'s media twin): every
    * 11th payload removed (index rows turn `orphaned`), new arrivals at
    * +90000000 (corpus rows the index has never seen — `unindexed`).
    */
  def mediaSnapshotNext(docs: DataFrame): DataFrame =
    media(docs).select("doc_id", "payload")
      .filter(col("doc_id") % 11 =!= 0)
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 90000000L).as("doc_id"),
          encode(concat(lit("npay-"), col("doc_id").cast("string"),
            expr("repeat(' zqx', 40)")), "UTF-8").as("payload")))

  // ------------------------------------------- media corpus versioning

  /** [[mediaSnapshotNext]]'s content-diff sibling — the next media
    * generation WITH re-encodes: every 11th payload removed, every 7th
    * SURVIVOR re-encoded (a trailing edit — since payload = UTF-8(text)
    * the oracle mirrors it as a text suffix), every 13th re-published
    * under a new id (+70000000) — [[graft.llm.LlmOps.snapshotNext]]'s
    * conventions applied to payload bytes.
    */
  def mediaSnapshotDiff(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        encode(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")), "UTF-8").as("payload"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 70000000L).as("doc_id"),
          encode(col("text"), "UTF-8").as("payload")))

  /** Content-level drift audit between two MEDIA generations —
    * [[graft.llm.LlmOps.corpusDiff]] over payload bytes: per asset id,
    * `added` / `removed` / `changed` (re-encode, retouch) / `unchanged`,
    * decided on md5 content fingerprints so the payloads themselves
    * never join or shuffle (16-byte hashes ride the full-outer join —
    * the only shape that stands at 100 TB of media). Presence flags, not
    * hash-nullness, classify null payloads — the text twin's contract.
    */
  def mediaDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String = "doc_id", payloadCol: String = "payload",
      keepUnchanged: Boolean = false): DataFrame =
    graft.llm.LlmOps.corpusDiff(oldSnap, newSnap, idCol, payloadCol,
      keepUnchanged)

  /** Reproducible as-of read of the epoch-partitioned stored MEDIA
    * corpus ([[graft.llm.StreamingMediaIngest]]'s sink layout) —
    * [[graft.llm.LlmOps.readCorpusAsOf]] verbatim: the epoch bound is
    * pure partition pruning, later epoch directories never open, and
    * reproducing the media a training run saw costs the size of ≤E.
    */
  def readMediaAsOf(spark: SparkSession, mediaDir: String,
      epoch: Long): DataFrame =
    graft.llm.LlmOps.readCorpusAsOf(spark, mediaDir, epoch)

  /** Apply id-level removals (takedowns — the likeliest takedown class
    * is media) to the stored media corpus —
    * [[graft.llm.LlmOps.applyCorpusRemovals]] verbatim: rewrite keeping
    * exactly the rows whose id is still in `current`, through the
    * compaction swap, epoch directories restated. The payload bytes ride
    * the rewrite but never the decision join.
    */
  def applyMediaRemovals(spark: SparkSession, mediaDir: String,
      current: DataFrame, idCol: String = "doc_id"): (Long, Long) =
    graft.llm.LlmOps.applyCorpusRemovals(spark, mediaDir, current, idCol)

  /** The composed media GC — [[graft.llm.LlmOps.corpusGc]]'s media twin,
    * closing the versioning parity gap: delete the removed assets from
    * the stored media corpus, then prune the stored payload-simhash
    * index to the surviving generation ([[prunePayloadIndexTo]]) so no
    * taken-down asset's ghost can veto a re-encode's ingest. Corpus
    * first, deliberately — a crash between the steps leaves index
    * orphans the coverage audit still DETECTS (over-report) and a re-run
    * converges; the reverse order could leave a corpus row the audit
    * reads as the gate-blind `unindexed`. Returns the corpus
    * (rows before, rows after).
    */
  def mediaGc(spark: SparkSession, current: DataFrame, mediaDir: String,
      payIndexDir: Option[String] = None,
      idCol: String = "doc_id"): (Long, Long) = {
    val res = applyMediaRemovals(spark, mediaDir, current, idCol)
    payIndexDir.foreach(prunePayloadIndexTo(current, _, idCol))
    res
  }

  /** Harness fixture for the REAL header decode: payloads carrying
    * genuine encoded media headers — the PNG signature + IHDR chunk
    * (big-endian u32 dims at bytes 17-24), JPEG in FOUR layouts cycled
    * by `doc_id div 4` (bare SOI+SOF0; SOI + APP0/JFIF whose payload
    * bytes CONTAIN a byte-aligned 'FFC0' decoy + SOF0 — the false
    * positive a single marker-scan decoder reads wrong dims from;
    * SOI + a short DQT-shaped segment + progressive SOF2; SOI + a
    * 180-byte Exif-shaped APP1 — with its own embedded decoy — then
    * SOF0, the realistic camera-output shape whose frame header sits
    * ~184 bytes in, past any 32-byte window but well inside the
    * decoder's 256-byte one), GIF89a (little-endian u16 dims at bytes
    * 7-10) — cycled by doc_id % 4, with every 4th payload HEADERLESS
    * (the decoder's 'unknown' contract must be exercised, not assumed).
    * Body bytes are the doc text; the dims are [[media]]'s derivations
    * so the two fixtures agree. Header hex is assembled textually and
    * unhex'd — the same construction the oracle states, so both engines
    * derive byte-identical payloads.
    */
  def mediaEncoded(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        (lit(64L) + (col("doc_id") % 16) * 8).as("width"),
        expr("64 + ((doc_id div 16) % 16) * 8").as("height"),
        col("text"))
      .withColumn("w8", expr("lpad(hex(width), 8, '0')"))
      .withColumn("h8", expr("lpad(hex(height), 8, '0')"))
      .withColumn("w4", expr("lpad(hex(width), 4, '0')"))
      .withColumn("h4", expr("lpad(hex(height), 4, '0')"))
      .withColumn("hdr", expr("""CASE doc_id % 4
          WHEN 0 THEN concat('89504E470D0A1A0A', '0000000D49484452', w8, h8, '0806000000', '00000000')
          WHEN 1 THEN CASE (doc_id div 4) % 4
            WHEN 0 THEN concat('FFD8FFC0', '001108', h4, w4, '03')
            WHEN 1 THEN concat('FFD8FFE0', '0010', '4A464946000101FFC000AA000000', 'FFC0', '001108', h4, w4, '03')
            WHEN 2 THEN concat('FFD8FFDB', '0005', '010203', 'FFC2', '001108', h4, w4, '03')
            ELSE concat('FFD8FFE1', '00B4', '457869660000', 'FFC0BEEF', repeat('AB', 168), 'FFC0', '001108', h4, w4, '03') END
          WHEN 2 THEN concat('474946383961', substr(w4, 3, 2), substr(w4, 1, 2), substr(h4, 3, 2), substr(h4, 1, 2), 'F70000')
          ELSE '' END"""))
      .select(col("doc_id"),
        expr("concat(unhex(hdr), encode(text, 'UTF-8'))").as("payload"))

  /** Bound on the JPEG marker walk: positions examined per payload is
    * `JpegWalkSteps + 1` (the start plus one per transition). Real JFIF
    * headers reach SOFn within 2-4 segments; the bound only matters on
    * adversarial marker chains, where BOTH decode forms give up
    * identically (NULL dims) instead of diverging.
    */
  val JpegWalkSteps = 7

  /** REAL byte-level media-header decode over an opaque binary payload
    * column — format from the magic bytes, pixel dimensions from the
    * format's own header layout: PNG IHDR big-endian u32s, GIF89a
    * little-endian u16s, and JPEG SOFn u16s located by WALKING the
    * marker segments by their length fields (not a substring scan): from
    * SOI, each length-bearing segment advances marker + declared length,
    * standalone markers (TEM, RSTn) advance the bare marker, SOF0/SOF1/
    * SOF2 parks the walk (baseline, extended-sequential AND progressive
    * frames all decode), and SOI/EOI/SOS or a non-marker byte kills it —
    * so an 'FFC0' byte pair INSIDE an APP0/DQT payload or past SOS is
    * never mistaken for a frame header (the false positive a naive
    * first-match scan decodes WRONG dims from). Every advance is a whole
    * number of bytes from SOI, so walk positions are byte-aligned by
    * construction. Unrecognized payloads (and short/null ones) come back
    * format='unknown' with NULL dims — decoded, never dropped.
    *
    * Built from codegen'd builtins (substring/conv/hex) — option (a) of
    * the extension ladder: no UDF, no custom expression. The walk is
    * [[JpegWalkSteps]] chained projections (each step's CASE reads the
    * previous position attribute; CollapseProject keeps non-cheap
    * producers un-inlined, so the expression tree stays linear in the
    * step count) and only the FIRST 256 payload bytes are ever hexed
    * (the header window — wide enough for the realistic Exif/JFIF case
    * where a ~180-byte APP1 precedes the frame header, the shape most
    * camera output ships; a header that still doesn't fit — e.g. a
    * multi-KB thumbnail-bearing APP1 — yields NULL dims, never wrong
    * ones), so per-row cost is independent of payload size. The
    * typed-map twin
    * [[decodeMediaBatch]] carries the same walk as per-partition Scala
    * for deployments swapping in a real codec call; the equivalence spec
    * holds the two byte-for-byte identical, decoys and edge cases
    * included.
    */
  def decodeMediaHeader(mediaDf: DataFrame,
      payloadCol: String = "payload"): DataFrame = {
    // one walk step over the hex window: position p (1-based, always
    // odd) ↦ next segment boundary; SOFn is a fixpoint (the walk parks),
    // anything unparseable ↦ NULL (walk dead). A length-bearing segment
    // advances 4 + 2*len hex chars (the length field counts itself).
    def step(p: String): String =
      s"""CASE
         | WHEN $p IS NULL OR length(hdr) < $p + 3 THEN CAST(NULL AS INT)
         | WHEN substr(hdr, $p, 4) IN ('FFC0','FFC1','FFC2') THEN $p
         | WHEN substr(hdr, $p, 2) <> 'FF' THEN CAST(NULL AS INT)
         | WHEN substr(hdr, $p, 4) IN ('FFD8','FFD9','FFDA') THEN CAST(NULL AS INT)
         | WHEN substr(hdr, $p, 4) = 'FF01' OR (substr(hdr, $p, 3) = 'FFD'
         |     AND substr(hdr, $p + 3, 1) BETWEEN '0' AND '7') THEN $p + 4
         | WHEN length(hdr) < $p + 7
         |     OR cast(conv(substr(hdr, $p + 4, 4), 16, 10) as int) < 2
         |   THEN CAST(NULL AS INT)
         | ELSE $p + 4 + 2 * cast(conv(substr(hdr, $p + 4, 4), 16, 10) as int)
         |END""".stripMargin
    var walked = mediaDf
      .withColumn("hdr", expr(s"hex(substring($payloadCol, 1, 256))"))
      .withColumn("format", expr("""CASE
          WHEN substr(hdr, 1, 16) = '89504E470D0A1A0A' THEN 'png'
          WHEN substr(hdr, 1, 4) = 'FFD8' THEN 'jpeg'
          WHEN substr(hdr, 1, 12) = '474946383961' THEN 'gif'
          ELSE 'unknown' END"""))
      .withColumn("wp", expr("CASE WHEN format = 'jpeg' THEN CAST(5 AS INT) END"))
    for (_ <- 1 to JpegWalkSteps) walked = walked.withColumn("wp", expr(step("wp")))
    walked
      // the final position check doubles as the last examination: a SOF
      // reached on the very last transition is still found (substr past
      // the window yields a short string, never a false IN hit)
      .withColumn("sof", expr(
        "CASE WHEN wp IS NOT NULL AND substr(hdr, wp, 4) IN ('FFC0','FFC1','FFC2') THEN wp ELSE 0 END"))
      .withColumn("width_px", expr("""CASE
          WHEN format = 'png' AND length(hdr) >= 48
            THEN cast(conv(substr(hdr, 33, 8), 16, 10) as bigint)
          WHEN format = 'jpeg' AND sof > 0 AND length(hdr) >= sof + 17
            THEN cast(conv(substr(hdr, sof + 14, 4), 16, 10) as bigint)
          WHEN format = 'gif' AND length(hdr) >= 20
            THEN cast(conv(concat(substr(hdr, 15, 2), substr(hdr, 13, 2)), 16, 10) as bigint)
          END"""))
      .withColumn("height_px", expr("""CASE
          WHEN format = 'png' AND length(hdr) >= 48
            THEN cast(conv(substr(hdr, 41, 8), 16, 10) as bigint)
          WHEN format = 'jpeg' AND sof > 0 AND length(hdr) >= sof + 17
            THEN cast(conv(substr(hdr, sof + 10, 4), 16, 10) as bigint)
          WHEN format = 'gif' AND length(hdr) >= 20
            THEN cast(conv(concat(substr(hdr, 19, 2), substr(hdr, 17, 2)), 16, 10) as bigint)
          END"""))
      .withColumn("n_bytes", octet_length(col(payloadCol)).cast("bigint"))
      .drop("hdr", "sof", "wp")
  }

  /** The decode stage as typed per-partition batch iteration — the Scala
    * analog of `mapInPandas`, the seam where a real deployment swaps in
    * a codec call (pixel decode, feature extraction) while keeping
    * schema/partitioning/batch shape identical. The body is no longer a
    * stub: it runs the SAME byte-level header parse as
    * [[decodeMediaHeader]] (equivalence spec'd), so the seam ships doing
    * real work. Typed mapPartitions is outside static SQL — the
    * REGISTERED decode query is the declarative form.
    */
  def decodeMediaBatch(spark: SparkSession, mediaDf: DataFrame): DataFrame = {
    import spark.implicits._
    val PngSig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    mediaDf.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, p0) =>
          val p = if (p0 == null) Array.empty[Byte] else p0
          def u8(i: Int): Int = p(i) & 0xff
          def be32(i: Int): Long =
            (0 until 4).foldLeft(0L)((a, k) => (a << 8) | u8(i + k))
          def be16(i: Int): Long = ((u8(i) << 8) | u8(i + 1)).toLong
          def le16(i: Int): Long = ((u8(i + 1) << 8) | u8(i)).toLong
          val fmt =
            if (p.length >= 8 && p.take(8).map(_ & 0xff).sameElements(PngSig)) "png"
            else if (p.length >= 2 && u8(0) == 0xFF && u8(1) == 0xD8) "jpeg"
            else if (p.length >= 6 &&
              new String(p.take(6), "US-ASCII") == "GIF89a") "gif"
            else "unknown"
          val (w, h): (Option[Long], Option[Long]) = fmt match {
            case "png" if p.length >= 24 => (Some(be32(16)), Some(be32(20)))
            case "jpeg" =>
              // mirror decodeMediaHeader's bounded segment walk EXACTLY:
              // from SOI, hop marker→marker by each segment's declared
              // length, park on SOF0/1/2, die on SOI/EOI/SOS or a
              // non-marker byte. The SQL form examines JpegWalkSteps + 1
              // positions (the start plus one per chained step, the
              // final IN check acting as the last examination), so this
              // loop caps at the same count — adversarial marker chains
              // give up identically on both forms.
              val win = math.min(p.length, 256)
              var pos = 2  // byte offset just past SOI
              var sof = -1
              var dead = false
              var looked = 0
              while (!dead && sof < 0 && looked <= Multimodal.JpegWalkSteps) {
                looked += 1
                if (pos + 1 >= win) dead = true // marker must fit the window
                else {
                  val m1 = u8(pos + 1)
                  if (u8(pos) != 0xFF) dead = true
                  else if (m1 == 0xC0 || m1 == 0xC1 || m1 == 0xC2) sof = pos
                  else if (m1 == 0xD8 || m1 == 0xD9 || m1 == 0xDA) dead = true
                  else if (m1 == 0x01 || (m1 >= 0xD0 && m1 <= 0xD7)) pos += 2
                  else if (pos + 3 >= win) dead = true // length field truncated
                  else {
                    val len = be16(pos + 2).toInt
                    if (len < 2) dead = true else pos += 2 + len
                  }
                }
              }
              // dims need bytes through sof+8 inside the window (the
              // hex guard length(hdr) >= sof_hex + 17 ⇔ sof + 9 ≤ win)
              if (sof >= 0 && sof + 9 <= win)
                (Some(be16(sof + 7)), Some(be16(sof + 5)))
              else (None, None)
            case "gif" if p.length >= 10 => (Some(le16(6)), Some(le16(8)))
            case _ => (None, None)
          }
          (id, fmt, w, h, p.length.toLong)
        }
      }
      .toDF("doc_id", "format", "width_px", "height_px", "n_bytes")
  }
}
