package graft.llm

import graft.fs.ArtifactFs
import graft.plans.GraftExtensions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (north-star extensions; SURVEY §7.2
  * step 6): deduplication (exact / MinHash+LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), approximate-nearest-neighbor similarity search.
  * Library API: every operator takes its id/text/vector column names (with
  * `doc_id`/`text`/`vec_id`/`embedding` defaults) and operates on the given
  * corpus verbatim; the `*Corpus` builders that inject deterministic
  * duplicates are harness fixtures, composed by [[LlmQueries]], not part of
  * the operators.
  *
  * Cross-engine determinism rules (so the DuckDB oracle hash-matches):
  *   - every hash is the first 14 hex chars of md5, read as a 56-bit int —
  *     `conv(substr(md5(x),1,14),16,10)` in Spark ≡
  *     `CAST('0x'||substr(md5(x),1,14) AS BIGINT)` in DuckDB;
  *   - every float computation is an ordered left-fold over doubles
  *     (`aggregate(zip_with...)` ≡ `list_reduce(list_transform(range...))`),
  *     so FP addition order — and hence every bit — is identical;
  *   - harness dup injection: doc_id%10 exact copies at +20000000,
  *     doc_id%7 near copies (4-token tail appended) at +10000000,
  *     vec_id%10 perturbed vectors (±0.01 per dim by i%3) at +1000000.
  *
  * Scale notes (designed for 100 TB, tested at sf0.1): every dedup variant
  * is blocked/bucketed — candidate pairs come from LSH band keys, prefix
  * blocks, or sign buckets, never an unblocked O(n²) self-join; the only
  * cross join is against a broadcast query set.
  */
object LlmOps {

  /** 56-bit md5-prefix hash of a SQL string expression (Spark SQL text).
    * Resolves to the native codegen'd [[graft.functions.Md5Prefix56]]
    * registered by GraftExtensions (value-identical to
    * `cast(conv(substr(md5(x),1,14),16,10) as bigint)`, minus the
    * hex-string round-trip per value — the hash is the dominant dedup
    * cost at scale). Every operator that interpolates this registers the
    * function on its frame's session first
    * ([[graft.plans.GraftExtensions.register]]).
    */
  def h56(sqlArg: String): String = s"h56($sqlArg)"

  /** Same hash in DuckDB SQL text. */
  def h56Duck(sqlArg: String): String =
    s"CAST('0x'||substr(md5($sqlArg),1,14) AS BIGINT)"

  /** The one width rule: a CPU-heavy stage runs at least as wide as the
    * session's cores (`defaultParallelism`), whatever the bytes say
    * (guide §2.2/§2.5 — partitioning tracks CPU cost, not size). Call it
    * on the frame that feeds the heavy stage.
    *
    *  - SCAN-FED `df` (no exchange in its plan: narrow work over a file
    *    scan or a cached or checkpointed frame) whose heavy work fuses
    *    onto its own stage: the width is the split count, fixed at
    *    planning. At least cores wide, `df` is returned unchanged — no
    *    exchange, never a coalesce. Narrower (the single-row-group
    *    harness layout plans one split, so every per-row transform fused
    *    into the scan stage runs on one core), it gets one exchange to
    *    cores partitions.
    *  - EXCHANGE-FED `df` (a shuffle or broadcast exchange in its plan),
    *    or one whose consumer shuffles it on `keys` before the heavy work
    *    (`feedsShuffle`): AQE decides that width at run time — reading it
    *    would run the stages — and coalesces a byte-small frame
    *    (candidate pairs, code triples) to one partition, serializing
    *    the stage on top. It always gets the by-number exchange, which
    *    AQE never coalesces.
    *
    * The exchange hashes on `keys` (round-robin without keys); hashing
    * on the key the consumer groups or joins by REPLACES the planner's
    * own exchange instead of adding one. Rows never depend on placement
    * here: every consumer is key-clustered or a per-key total order.
    * Measured in OPTIMIZATION_r19.md (fresh-session, sf0.1, 32 cores):
    * §5 edit/ngram verify 1.55 → 1.03 and 1.97 → 1.09 s, §6 the ANN
    * family 15.34/11.93 → 7.47/6.84 s, §7 the dedup family 9.97/9.19 →
    * 8.62/8.61 s; `dedupContainment` opts out (`widen = false`), measured
    * worse.
    */
  private[llm] def coresWide(df: DataFrame, keys: Seq[String] = Nil,
      feedsShuffle: Boolean = false): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    def scanFedWide = !(df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]) &&
      df.rdd.getNumPartitions >= cores
    if (!feedsShuffle && scanFedWide) df
    else if (keys.isEmpty) df.repartition(cores)
    else df.repartition(cores, keys.map(col): _*)
  }

  /** Canonicalize a text corpus to (doc_id, text) — and register h56,
    * since every downstream hash interpolates it.
    */
  private def textCorpus(df: DataFrame, idCol: String, textCol: String): DataFrame =
    GraftExtensions.register(df).select(col(idCol).as("doc_id"), col(textCol).as("text"))

  // ------------------------------------------- harness dup-injection fixtures

  /** corpus ∪ exact copies of every 10th doc (id +20000000). */
  def exactDupCorpus(docs: DataFrame): DataFrame =
    docs.select("doc_id", "text").unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))

  val ExactCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 20000000, text FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** corpus ∪ near copies of every 7th doc (id +10000000, tail appended). */
  def nearDupCorpus(docs: DataFrame): DataFrame =
    docs.select("doc_id", "text").unionByName(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" graft near dup tail")).as("text")))

  val NearCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 10000000, text || ' graft near dup tail' FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** [[nearDupCorpus]] with the language label carried — injected near
    * copies inherit their base doc's language: the fixture the
    * PER-LANGUAGE batch funnel scores.
    */
  def nearDupCorpusLang(docs: DataFrame): DataFrame =
    docs.select("doc_id", "text", "lang").unionByName(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" graft near dup tail")).as("text"),
          col("lang")))

  val NearCorpusLangSql: String =
    """SELECT doc_id, text, lang FROM documents
      |UNION ALL SELECT doc_id + 10000000, text || ' graft near dup tail', lang FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** vectors (as array<double>) ∪ perturbed copies of every 10th. */
  def cosineCorpus(base: DataFrame): DataFrame =
    base.select("vec_id", "e").unionByName(
      base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          expr("transform(sequence(1, size(e)), i -> element_at(e, i) + (i % 3 - 1) * cast(0.01 as double))").as("e")))

  /** embeddings with the vector widened to array<double> (exact). */
  def embBase(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val base = emb.select(
      (Seq(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("e")) ++
        (if (emb.columns.contains("label") && idCol != "label") Seq(col("label")) else Nil)): _*)
    base
  }

  // ----------------------------------------------------------- exact dedup

  /** Exact dedup by content hash: one group per md5(text), keep the lowest
    * id. Single hash-shuffle on a 32-hex key — at 100 TB this is the
    * canonical map-side-combine groupBy, no row ever carries the text
    * through the shuffle.
    */
  def dedupExact(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    textCorpus(corpus, idCol, textCol)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies", "content_hash")

  // --------------------------------------------------- shingles + MinHash

  /** Distinct word-3-shingles from space-tokenized text (≤2 tokens → the
    * whole doc is its one shingle).
    */
  /** The raw word-trigram list over `toks` — one entry per POSITION;
    * `array_distinct` of it is the shingle vocabulary. Single-sourced so
    * the dedup family's shingles and the repetition family's total-gram
    * list ([[TextAnalysis]] rep3) are the same formula by construction
    * and cannot silently diverge when the shingle width or separator
    * changes.
    */
  val TrigramListSql: String =
    "transform(sequence(1, greatest(size(toks)-2, 1)), i -> concat_ws(' ', slice(toks, i, 3)))"

  /** The shingle→56-bit-hash vocabulary (`gs`) over a `shingles` column —
    * single-sourced like [[TrigramListSql]]: the stored index build
    * ([[signaturesOf]]), in-query candidate generation, decontamination,
    * and the in-query incremental gate must all state the same hash and
    * modulus, or the gates silently diverge from the index they probe.
    */
  private def gsSql: String =
    s"array_distinct(transform(shingles, s -> ${h56("s")} % $MersenneP))"

  def withShingles(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", expr(s"array_distinct($TrigramListSql)"))

  // single-sourced from the fused native expression so the Spark-side
  // loop and the oracle templates can never drift apart
  val NumHashes: Int  = graft.functions.MinHashSigs.NumHashes // 4 bands × rows of 3
  val Bands: Int      = graft.functions.MinHashSigs.Bands
  val MersenneP: Long = graft.functions.MinHashSigs.MersenneP // 2^31-1

  /** Directory-partition fan-out of the stored LSH index
    * ([[buildMinHashIndex]]): the band table is partitioned on disk by
    * (band_idx, bk_bucket) and the signature table by sig_bucket, so an
    * ingest batch's probe prunes to the directories its own keys land in
    * instead of scanning the whole index. 16 key buckets × [[Bands]] band
    * dirs keeps the directory count sane at test scale; at 100 TB the
    * same layout holds with a larger fan-out (more prefix chars / a
    * bigger modulus) — the constant is the only thing that changes.
    */
  val BandBuckets: Int = 16
  val SigBuckets: Int  = 16

  /** Max batch-side rows the stored-index gates still FORCE-broadcast.
    * An ingest micro-batch is orders of magnitude under this, so the
    * probe keeps its pinned shape (batch broadcast, index streamed —
    * the PlanQualitySpec assertion). But the same gates are reused where
    * the "batch" is unbounded — delta curation on a first run or a full
    * re-crawl makes it corpus-sized — and an unconditional hint would
    * hard-fail Spark's 8 GB broadcast cap (or OOM the driver) where AQE
    * would have degraded to a shuffle join gracefully. Bounds are
    * conservative against that cap: band rows are ~tens of bytes (4 M ×
    * [[Bands]]-row batches stay well under a GB); vector rows carry the
    * embedding payload itself (KBs each), so their bound is tighter.
    */
  val GateBroadcastMaxRows: Long    = 4000000L
  val GateBroadcastMaxVecRows: Long = 262144L

  /** `df` with a broadcast hint iff `rows` — a collected row-count bound
    * — is within `maxRows` ([[GateBroadcastMaxRows]], or
    * [[GateBroadcastMaxVecRows]] for vector frames); over it, AQE
    * decides. Every stored-artifact probe gates its batch side here.
    */
  private[llm] def gateBroadcast(df: DataFrame, rows: Long,
      maxRows: Long = GateBroadcastMaxRows): DataFrame =
    if (rows <= maxRows) broadcast(df) else df

  /** A long count field of a probe's collected footprint row; a null
    * (a `sum` over an empty batch) reads as 0.
    */
  private[llm] def fpCount(fp: org.apache.spark.sql.Row, field: String): Long = {
    val i = fp.fieldIndex(field)
    if (fp.isNullAt(i)) 0L else fp.getLong(i)
  }

  /** STATIC partition pruning of a stored artifact to a probe's
    * collected footprint: one flat `IN` per partition column over that
    * column's distinct footprint values, AND-ed. The filter lands in
    * the scan's PartitionFilters whatever the size estimates say, and
    * unprobed directories are never opened (DPP alone can't see through
    * a cached batch relation: InMemoryRelation is a leaf with no
    * selective predicate for the rule to find). An empty footprint
    * filters on `false`, so the scan is eliminated entirely.
    *
    * Over two or more columns the predicate is the footprint's
    * CROSS-PRODUCT relaxation — e.g. (lang ∈ L) ∧ (wb ∈ W), not the
    * exact pair disjunction. Every caller's join is exact on the
    * partition columns plus its key, so the filter is pure pruning and
    * any relaxation leaves the output bit-identical, while the exact
    * form is a (|L| × |W|)-term OR tree (≈640 predicate nodes at 5
    * languages × [[LmBuckets]]) that Catalyst re-analyzes on every plan
    * of the consuming query for no extra pruning in the regimes that
    * matter: a nightly churn covers every pair (both forms read
    * everything), a single-language micro-batch makes the cross product
    * degenerate to the pair set, and a minhash batch's (band_idx,
    * bk_bucket) footprint saturates the Bands × [[BandBuckets]] grid
    * anyway (every doc emits one key per band). The over-read is
    * bounded by (|L|−1)·|W| directories in the mixed-small-batch
    * corner. Measured: matched alternating solo A/B,
    * llm_curate_delta_lang sf0.1 medians, OR-chain 5.58/5.30/4.98 s →
    * cross-product 3.92/4.50/4.73 s; same-window A/B across the probe
    * family (sf0.1 REPS=5 medians, minhash / per-language IDF / qclf /
    * payload relaxations together): llm_curate_delta 2.77 → 2.33/2.61,
    * inc_mh_idx 0.73 → 0.65/0.78, keywords_lang 0.54 → 0.47/0.50,
    * quality_clf_lang 0.69 → 0.60/0.64, payload_inc_idx 0.49 →
    * 0.45/0.47 — the relaxation at or below the OR tree in every pair.
    */
  private[llm] def pinPartitions(stored: DataFrame,
      footprint: (String, Seq[Any])*): DataFrame =
    stored.filter(
      if (footprint.exists(_._2.isEmpty)) lit(false)
      else footprint.map { case (c, vs) => col(c).isin(vs.distinct: _*) }
        .reduce(_ && _))

  /** Resolved-relation memo for STORED-ARTIFACT probe reads.
    * `spark.read.parquet` on a partitioned artifact re-lists every
    * partition directory, re-infers partition columns and re-reads a
    * schema footer ON EVERY CONSTRUCTION — driver-side work (past 32
    * leaf dirs it even runs a listing job) that a per-rep/per-query
    * probe pays again and again: the (lang, wb)-partitioned per-language
    * LM is ~130 directories, and JobProfile put ~half of
    * llm_fluency_lang's wall in driver gaps. This memo reuses the
    * RESOLVED relation (metadata only — scans still read the parquet
    * bytes every execution; no rows are ever cached) per (session, path,
    * artifact fingerprint), the [[graft.Tables]] relCache pattern
    * applied to the stored artifacts. The fingerprint
    * ([[graft.fs.ArtifactFs.fingerprint]], shared with the
    * [[graft.llm.LlmQueries]] memo) is orders cheaper than re-resolution
    * and lists the path through its own filesystem, URI paths included,
    * so an append, a compaction, or an atomic swap mints a new key and a
    * stale relation is never served (probes of MUTATING paths stay safe);
    * lifecycle reads that must observe in-flight writes (the delta
    * apply's corpus replay, prune maintenance) stay on bare
    * `read.parquet` by design. Weak session key: a stopped session's
    * relations unpin with it.
    */
  private val storedRelCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]())

  private[llm] def readStored(spark: SparkSession, path: String): DataFrame = {
    val perSession = storedRelCache.synchronized {
      var m = storedRelCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        storedRelCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(s"$path|${ArtifactFs.fingerprint(spark, path)}",
      _ => spark.read.parquet(path))
  }

  /** Stage-frame pin for the BATCH FUNNEL family: a LAZY checkpoint
    * instead of `persist`. Same materialize-on-first-action behavior,
    * row-identical output — but the pinned frame's logical plan becomes
    * a truncated LEAF, so every downstream consumer plan (and every AQE
    * re-optimization round, which re-runs the optimizer over the whole
    * remaining plan per query stage) carries a leaf instead of the full
    * gate-chain lineage.
    * JobProfile measured ~40% of llm_curate_full_clf's wall as
    * driver-side planning gaps between jobs (guide §7.3 / §3.3: past a
    * few hundred nodes, planning is the bottleneck); interleaved A/B at
    * sf0.1, 6 pairs each, truncate wins every pair on every funnel
    * query: full_clf 13.66→8.38, full 8.26→6.55, full_lang 6.47→4.61,
    * full_apply 5.64→4.50, full_lang_apply 6.19→5.11 s medians. The
    * planning saved is driver-side and scale-INDEPENDENT, so the win
    * carries to 100 TB (same plans, same optimizer rounds, bigger data).
    *
    * Tradeoffs vs persist, and why they are acceptable here: (a) a
    * checkpointed frame cannot recompute lost blocks from lineage — on a
    * cluster, set `spark.graft.cc.checkpointDir` (the [[dedupClusters]]
    * deployment knob) and the pin becomes a RELIABLE checkpoint instead;
    * losing an executor under plain localCheckpoint is expected to fail
    * the query, with a retry recomputing from source, standard batch
    * semantics (untested: no spec injects block loss). (b)
    * `sqlContext.clearCache` does not free checkpoint blocks — they are
    * freed by the ContextCleaner once the run's frames are dropped; the
    * funnel's pins were already session-lifetime (released only at
    * clearCache/session end), so the lifecycle loosens by one GC cycle.
    * The nightly DELTA chain deliberately stays on `persist`: its
    * [[curateDeltaReport]] contract releases each pinned frame
    * explicitly (`unpersist`), which checkpoints cannot honor.
    */
  private def stagePin(spark: SparkSession): DataFrame => DataFrame =
    spark.conf.getOption("spark.graft.cc.checkpointDir") match {
      case Some(dir) =>
        spark.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint(eager = false)
      case None => df => df.localCheckpoint(eager = false)
    }

  /** Max distinct partition values a stored probe pins as a STATIC
    * `IN (...)` literal on the index scan. The static pin is the
    * preferred regime (it lands in PartitionFilters unconditionally —
    * no size-estimate heuristics, and it works through a cached batch
    * relation DPP can't see into), but it is only sane while the
    * footprint is plan-sized: a production query batch probing at ~√n
    * cells could otherwise inflate the plan with 10⁴–10⁶ literals
    * (quadratic optimizer/codegen cost, a driver-memory plan). Past
    * this bound [[pruneToCells]] falls back to a left-semi join against
    * the DISTINCT probe frame — an Aggregate side, which Spark's
    * dynamic-partition-pruning rule treats as selective, so pruning
    * degrades to a runtime `dynamicpruningexpression` on the scan
    * instead of disappearing. The size-gated-broadcast discipline
    * ([[GateBroadcastMaxRows]]), applied to plan literals.
    */
  val StaticPinMaxCells: Int = 1024

  /** The shared two-regime pruning of a cell-partitioned stored table
    * to a probe footprint (the trained-cell / IVF-PQ / semantic-gate
    * probes): `pinned` is the collected distinct footprint — the caller
    * collects with a `limit(maxPin + 1)` where the footprint isn't
    * already bounded, so an oversized one never lands on the driver in
    * full — and `probeCells` the lazily-built single-column (named
    * `partCol`, possibly duplicated) probe frame the overflow regime
    * semi-joins against. Empty footprint ⇒ empty probe (scan eliminated
    * entirely).
    *
    * The overflow regime's `count ≥ 1` guard is vacuously true but
    * structurally necessary: Spark's PartitionPruning rule only treats
    * the filtering side as prune-worthy when it contains a Filter node
    * whose condition `isLikelySelective` — a bare Aggregate (a plain
    * `.distinct()`) never qualifies, so the scan would stream every
    * cell directory. Referencing the count pins the guard ABOVE the
    * aggregate, where no pushdown can fold it into a local or cached
    * relation; cost is one counter per distinct cell, and the scan
    * receives a runtime `dynamicpruningexpression` via the semi join's
    * own broadcast (reuse — no extra job).
    *
    * The overflow broadcast hint is itself SIZE-GATED (the
    * [[GateBroadcastMaxRows]] discipline, applied to the probe's
    * distinct-cell frame): the regime is entered precisely because the
    * footprint exceeded `maxPin`, and its ceiling is the table's cell
    * count — ~√n for the ANN layouts, which a partitioned table keeps
    * filesystem-sane (≤10⁶ directories) but which is not "plan-sized by
    * construction" the way a micro-batch footprint is. A bounded count
    * job (`limit(bound + 1)` — only the counter crosses to the driver)
    * decides: within the bound the hint stays and the scan gets its
    * `dynamicpruningexpression` through the reused broadcast; past it
    * the hint drops and AQE plans the semi join off runtime stats.
    * Pruning may then lapse (with `dynamicPartitionPruning
    * .reuseBroadcastOnly` = true, DPP won't build its own subquery) —
    * the safe degradation: at >4M probed cells the footprint is no
    * longer selective enough for pruning to matter, while a forced
    * multi-GB broadcast would be a driver/executor OOM. The count job
    * runs only in the overflow regime, where the caller already paid an
    * eager footprint collect.
    */
  private def pruneToCells(stored: DataFrame, partCol: String,
      pinned: Seq[Any], maxPin: Int,
      probeCells: => DataFrame): DataFrame =
    if (pinned.length <= maxPin) pinPartitions(stored, partCol -> pinned)
    else {
      val probe = probeCells.groupBy(partCol).agg(count(lit(1)).as("pc_n"))
        .filter(col("pc_n") >= 1L).select(partCol)
      stored.join(gateBroadcast(probe,
          probe.limit((GateBroadcastMaxRows + 1).toInt).count()),
        Seq(partCol), "left_semi")
    }

  /** Band-key directory bucket: first hex char of the md5 band key —
    * uniform by construction, and transparent (a directory name tells you
    * which keys it holds).
    */
  private def bandBucket(key: Column): Column =
    conv(substring(key, 1, 1), 16, 10).cast("int")

  /** Signature-table directory bucket over the doc id. */
  private def sigBucket(id: Column): Column = pmod(hash(id), lit(SigBuckets))

  /** Affine rehash constants: mh_j = min((a_j·g + b_j) mod 2^31-1) over the
    * per-shingle base hash g. One md5 per shingle total (not per hash
    * function) — the classic universal-hashing MinHash construction; at
    * 100 TB the md5 count is the dominant cost and this cuts it 12×.
    */
  def affineA(j: Int): Long = graft.functions.MinHashSigs.affineA(j)
  def affineB(j: Int): Long = graft.functions.MinHashSigs.affineB(j)

  /** MinHash signature over a `gs` column (the per-doc distinct shingle
    * hashes), banded into 4 keys. The 12 minima come from the fused
    * native [[graft.functions.MinHashSigs]] expression — ONE pass over the
    * hash array instead of 12 `array_min(transform(...))` walks, each of
    * which allocated an intermediate array per row; values identical
    * (spec'd against the unfused SQL form element-for-element).
    */
  def withMinHashBands(df: DataFrame): DataFrame = {
    val withMh = GraftExtensions.register(df).withColumn("mhs", expr("minhash_sigs(gs)"))
    (0 until Bands).foldLeft(withMh) { (d, b) =>
      val parts = (1 to 3).map(r => s"cast(element_at(mhs, ${3 * b + r}) as string)").mkString(", ',', ")
      d.withColumn(s"band$b", expr(s"md5(concat($parts))"))
    }
  }

  /** Shared candidate generation for the minhash-banded dedup family
    * ([[dedupMinHash]], [[dedupContainment]]): returns the persisted
    * hashed-shingle table `(doc_id, gs)` and the distinct banded candidate
    * pairs `(id_a, id_b)`.
    *
    * Both frames are persisted deliberately: `hashed` is referenced 3×
    * (signature derivation + both sides of the verify join) — at 100 TB it
    * is the materialized signature table every MinHash pipeline keeps —
    * and the band table feeds both sides of its self-join, which would
    * otherwise re-run the whole hash+signature derivation twice.
    */
  private def minHashCandidates(corpus: DataFrame, idCol: String,
      textCol: String, persistHashed: Boolean = true,
      widen: Boolean = true): (DataFrame, DataFrame) = {
    // persistHashed=false for callers (dedupEdit) that never re-read the
    // signature table — caching it would write the full (doc_id, gs)
    // frame to block storage once and leak it for the session
    //
    // [[coresWide]] before the signature derivation: shingling + 64
    // minhash folds per document fuse into the corpus scan's stage.
    // hash(idCol) is what every downstream band/verify join keys on. A
    // no-op when the caller (dedupEdit) already widened its frame.
    // `widen = false` for dedupContainment, whose posting/rare/probe
    // micro-stage chain measured WORSE off a 32-partition cache
    // (fresh-bench A/B: 1.41/1.66 vs 1.35/1.32 s — task overhead across
    // its many tiny stages outweighs the wide signature pass).
    val hashed0 = signaturesOf(
      if (widen) coresWide(corpus, Seq(idCol)) else corpus,
      idCol, textCol)
    val hashed = if (persistHashed)
      hashed0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else hashed0
    // bands deliberately NOT persisted: the self-join's two sides are
    // the identical subplan, so ReuseExchange shares ONE shuffle write
    // of the band table — a persist would add a 4n-row cache write on
    // top of the same shuffle (the llm_keywords/ReuseExchange rule; the
    // banding itself is an in-row projection of the cached signatures)
    val bands = withMinHashBands(hashed)
      .select(col("doc_id"),
        posexplode(array((0 until Bands).map(b => col(s"band$b")): _*))
          .as(Seq("band_idx", "band_key")))
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    (hashed, pairs)
  }

  /** MinHash+LSH near-dup detection: shingle → minhash → band → bucket-join
    * → exact-Jaccard verify ≥ threshold. The self-join is on
    * (band_idx, band_key) buckets only — at 100 TB the shuffle key space is
    * ~n_docs×4 and bucket sizes stay tiny, so no quadratic blowup;
    * signatures travel without the text (arrays re-joined only for
    * surviving candidate pairs).
    *
    * Production form at scale: this IN-QUERY shape re-derives signatures
    * and bands every run and re-shuffles both — its 10× fixed-core wall
    * ratio has measured 2.4–3.3 across rounds (shuffle-volume-bound;
    * round 14 removed the band-table cache write, ScaleBench 3.3 → 2.8).
    * A real pipeline builds the index ONCE ([[buildMinHashIndex]]) and
    * gates batches through the stored probe
    * ([[incrementalDedupMinHashIndexed]] — ScaleBench ~0.9, flat): use
    * the in-query form for one-shot corpus audits, the stored index for
    * anything recurring.
    */
  def dedupMinHash(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.6): DataFrame = {
    // verification compares the 31-bit shingle hashes, not the shingle
    // strings (smaller state, cheaper intersects) — both engines derive
    // identical hashes, so the Jaccard is identical too
    val (hashed, pairs) = minHashCandidates(corpus, idCol, textCol)
    pairs
      .join(hashed.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(hashed.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sa.gs"), col("sb.gs"))).cast("double") /
          size(array_union(col("sa.gs"), col("sb.gs")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Character-level near-dup: the same banded-LSH candidate generation as
    * [[dedupMinHash]], but verified by RELATIVE EDIT DISTANCE —
    * levenshtein over the raw text divided by the longer length. Catches
    * the edit-shaped near-copies token-set Jaccard under-scores (small
    * in-place character edits preserve edit distance but mutate shingles)
    * and is the dedup criterion used when "≤ x% of characters changed" is
    * the spec. Levenshtein is native (codegen'd) on both engines.
    *
    * Scale: candidates stay band-bounded (never all-pairs); text is only
    * hauled for candidate pairs, and the O(|a|·|b|) verify cost is why
    * this variant is reserved for candidate sets, not corpus scans.
    */
  def dedupEdit(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.2): DataFrame = {
    // one corpus scan, not three: the projected (doc_id, text) frame feeds
    // the shingle/band derivation AND both sides of the verify join —
    // persist it once and hand it to the candidate generator, the same
    // persistence discipline dedupMinHash applies to its hashed frame.
    // (The signature table itself stays unpersisted: unlike dedupMinHash,
    // nothing downstream re-reads the per-doc shingle hashes.)
    //
    // [[coresWide]] before the pin: every consumer of the cache (the
    // shingle/minhash derivation and both text sides of the levenshtein
    // verify) inherits its width (measured narrow: two sequential 2-task
    // stages of 0.79+0.69 s at sf0.1 = most of the query); the keyed
    // exchange rides INTO the cache materialization the op already pays.
    val txt = coresWide(textCorpus(corpus, idCol, textCol), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (_, pairs) = minHashCandidates(txt, "doc_id", "text",
      persistHashed = false)
    // [[coresWide]] before the expensive verify: the byte-small pairs
    // frame would otherwise be coalesced onto one partition, serializing
    // the O(bound·n) levenshtein stage (measured 2.6× on the whole query
    // at sf0.1)
    coresWide(pairs)
      .join(txt.as("ta"), col("id_a") === col("ta.doc_id"))
      .join(txt.as("tb"), col("id_b") === col("tb.doc_id"))
      // levenshtein ≥ |len_a − len_b|, so a pair whose length gap alone
      // exceeds threshold·max can never survive — skip its O(n·m) verify.
      // Output-identical by construction (the oracle needs no mirror).
      .filter(abs(length(col("ta.text")) - length(col("tb.text"))) <=
        lit(threshold) * greatest(length(col("ta.text")), length(col("tb.text"))))
      // degenerate-pair guard: two empty/blank docs always band-match
      // (identical empty-shingle hash sets) but have no defined relative
      // edit distance — max length 0 makes rel_edit 0/0, which Spark
      // evaluates to NULL (row kept by `edit_dist >= 0` alone) while the
      // oracle's `rel_edit <= t` drops it. Dropping zero-length pairs here
      // keeps the two engines identical on any corpus containing ≥2 empty
      // documents (the spec pins this with an injected empty-doc fixture).
      .filter(greatest(length(col("ta.text")), length(col("tb.text"))) > 0)
      // bounded levenshtein: the per-pair bound ⌊threshold·max⌋ is exactly
      // the survival cutoff (distances are integers), so every survivor
      // gets its exact distance and everything else returns -1 — same
      // output as the unbounded call, at O(bound·n) instead of O(n·m),
      // AND the `>= 0` filter alone decides survival (a second
      // rel_edit ≤ threshold filter would be redundant and would make the
      // optimizer substitute — and re-evaluate — the levenshtein a third
      // time). The oracle keeps the unbounded form (DuckDB has no bounded
      // variant); values agree on every surviving row.
      .withColumn("edit_dist", expr(
        s"levenshtein(ta.text, tb.text, cast(floor($threshold * greatest(length(ta.text), length(tb.text))) as int))")
        .cast("bigint"))
      .filter(col("edit_dist") >= 0)
      .withColumn("rel_edit", col("edit_dist").cast("double") /
        greatest(length(col("ta.text")), length(col("tb.text"))))
      .select("id_a", "id_b", "edit_dist", "rel_edit")
  }

  /** One-sided blocking knobs for [[dedupContainment]]: each doc probes
    * with its [[OneSidedProbeK]] smallest shingle hashes against an
    * inverted index of all shingle hashes, df-capped at [[OneSidedDfCap]].
    */
  val OneSidedProbeK = 3
  val OneSidedDfCap  = 256

  /** Containment near-dup: banded-LSH candidates as [[dedupMinHash]] PLUS
    * one-sided min-hash candidates, scored by max directional containment
    * |A∩B|/min(|A|,|B|) instead of Jaccard — the measure that catches "B
    * embeds A verbatim" when A is much shorter (Jaccard divides by the
    * union and dilutes exactly those pairs).
    *
    * The Jaccard-tuned bands alone miss exactly the strongly-asymmetric
    * pairs this operator exists for (a tiny doc inside a huge one has
    * near-zero band agreement: its minhashes are minima over very
    * different set sizes). The one-sided scheme covers them: if A ⊆ B then
    * every shingle of A — in particular its k smallest hashes — appears in
    * B's shingle set, so probing with each doc's k smallest RARE hashes
    * (df ≤ [[OneSidedDfCap]]) against an inverted index of all shingle
    * hashes surfaces the pair by construction — recall 1.0 for full
    * containment whenever the doc has ≥1 rare shingle at all. Rarity is
    * applied BEFORE the min-k (semi-join the exploded hashes against the
    * rare set, then rank): taking the k smallest overall and intersecting
    * with rare afterwards — the round-6 blocking — silently dropped every
    * probe of a short doc whose smallest hashes were all boilerplate,
    * losing exactly the short-in-long pairs this operator exists for.
    *
    * 100 TB shape: the inverted index is linear in the corpus's total
    * distinct-shingle count (the same cost class as [[decontaminate]]'s
    * equi-join); the probe side is k rows per doc; dropping shingle hashes
    * with document frequency > [[OneSidedDfCap]] bounds the hottest join
    * bucket, so candidate output is ≤ k·n·cap — linear, no quadratic
    * blowup. The df threshold costs one extra combinable groupBy pass.
    * `oneSided = false` restores the bands-only blocking (kept for the
    * regression spec that proves the bands miss short-in-long pairs).
    */
  def dedupContainment(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.9,
      oneSided: Boolean = true, dfCap: Int = OneSidedDfCap): DataFrame = {
    val (hashed, bandPairs) = minHashCandidates(corpus, idCol, textCol,
      widen = false)
    val pairs = if (!oneSided) bandPairs else {
      val posting = hashed.select(col("doc_id"), explode(col("gs")).as("g"))
      val rare = posting.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select("g")
      // rare-first min-k: every posting row that survives the rare
      // semi-join is a candidate probe; rank within doc and keep the k
      // smallest. Joining probes back to posting only meets df≤cap hashes
      // by construction, so the hottest bucket stays bounded.
      val probe = posting.select(col("doc_id").as("probe_id"), col("g"))
        .join(rare, Seq("g"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("probe_id").orderBy("g")))
        .filter(col("rn") <= OneSidedProbeK)
        .select("probe_id", "g")
      val onesided = probe.join(posting, Seq("g"))
        .filter(col("probe_id") =!= col("doc_id"))
        .select(least(col("probe_id"), col("doc_id")).as("id_a"),
          greatest(col("probe_id"), col("doc_id")).as("id_b"))
      bandPairs.unionByName(onesided).distinct()
    }
    pairs
      .join(hashed.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(hashed.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sa.gs"), col("sb.gs"))).cast("double") /
          least(size(col("sa.gs")), size(col("sb.gs")))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  // ------------------------------------------------------------- SimHash

  val SimHashBits = 16

  /** 16-bit SimHash per document: distinct tokens → h56 → per-bit ±1 votes
    * → sign. One explode + one map-side-combinable groupBy — linear at any
    * scale. Docs sharing a simhash are near-dup candidates.
    */
  def simHash(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = textCorpus(corpus, idCol, textCol)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", expr(h56("tok")))
    val bitAggs = (0 until SimHashBits).map(j =>
      sum(when(expr(s"(h div ${1L << j}) % 2") === 1, 1).otherwise(-1)).as(s"b$j"))
    val sums = toks.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val sh = (0 until SimHashBits)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), sh.as("simhash"))
  }

  // ------------------------------------------------- n-gram Jaccard dedup

  /** (doc_id, grams, gs): distinct word-bigrams and their 31-bit hashes. */
  def bigramTable(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    textCorpus(corpus, idCol, textCol)
      .withColumn("sp", split(col("text"), " "))
      .withColumn("grams", expr(
        "array_distinct(transform(sequence(1, greatest(size(sp)-1, 1)), i -> concat_ws(' ', slice(sp, i, 2))))"))
      .withColumn("gs", expr(
        s"array_distinct(transform(grams, s -> ${h56("s")} % $MersenneP))"))
      .select("doc_id", "grams", "gs")

  /** Banded LSH block keys over a `gs` bigram-hash column: (doc_id,
    * band_idx, band_key). Public so specs can bound block sizes directly.
    */
  def ngramBands(bigrams: DataFrame): DataFrame =
    withMinHashBands(bigrams.select("doc_id", "gs"))
      .select(col("doc_id"),
        posexplode(array((0 until Bands).map(b => col(s"band$b")): _*))
          .as(Seq("band_idx", "band_key")))

  /** Word-bigram Jaccard near-dup with *content-derived* banded blocking:
    * bigram hashes → MinHash bands (the same universal-hash machinery as
    * [[dedupMinHash]], bigrams instead of 3-shingles) → bucket-join
    * candidates → exact bigram-hash Jaccard ≥ threshold. A band key is
    * md5 of 3 min-hashes over the doc's FULL bigram set, so its collision
    * mass is bounded by near-duplicate density — shared boilerplate
    * prefixes ("Copyright 2024 …", templated docs) cannot collapse the
    * corpus into one giant block the way a raw prefix key does (round-1
    * verdict's skew trap): two docs land in one bucket only when 3
    * independent min-hashes all agree, i.e. essentially only when their
    * whole-document bigram Jaccard is already high.
    */
  def dedupNgram(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.5): DataFrame = {
    // persist only (doc_id, gs): the hash arrays feed band derivation +
    // both verify sides; the bigram strings never leave the first stage —
    // verification intersects the 31-bit hash arrays exactly like
    // dedupMinHash (smaller cached state, cheaper intersects; both engines
    // derive identical hashes, so the Jaccard is identical too).
    val g = bigramTable(corpus, idCol, textCol)
      .select("doc_id", "gs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = ngramBands(g)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // [[coresWide]] before the expensive verify, as in [[dedupEdit]]: the
    // array_intersect/array_union verify otherwise ran as a 0.86 s wall /
    // 1.45 s CPU 2-task stage at sf0.1 (JobProfile) — the query's largest
    coresWide(pairs)
      .join(g.as("a"), col("id_a") === col("a.doc_id"))
      .join(g.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("a.gs"), col("b.gs"))).cast("double") /
          size(array_union(col("a.gs"), col("b.gs")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------- boilerplate detection

  /** Corpus-global boilerplate detection — the C4-style cleaning pattern:
    * pass 1 computes each bigram's document frequency over the WHOLE
    * corpus, bigrams present in ≥ `minDocFracPct`% of documents are
    * boilerplate; pass 2 joins the boilerplate set back per document and
    * scores the contamination fraction. The global-statistics →
    * join-back shape is the one a 100 TB corpus needs: df is a map-side-
    * combinable count on the deduped (doc, gram) pairs, the boilerplate
    * set is tiny relative to the corpus (threshold-selected) and joins
    * back by gram hash — no broadcast assumption, AQE may still choose
    * one when it fits.
    */
  def boilerplate(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minDocFracPct: Int = 5): DataFrame = {
    val g = bigramTable(corpus, idCol, textCol).select("doc_id", "grams")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = g.select(col("doc_id"), explode(col("grams")).as("gram"))
    val total = g.agg(count(lit(1)).as("n_docs"))
    val boiler = exploded.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df") * 100 >= col("n_docs") * minDocFracPct)
      .select(col("gram"))
    val perDoc = exploded.join(boiler, "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    g.select(col("doc_id"), size(col("grams")).cast("bigint").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        (coalesce(col("n_boiler"), lit(0L)).cast("double") / col("n_grams")).as("boiler_frac"))
  }

  // ------------------------------------------- cluster resolution (CC)

  /** Resolve near-dup candidate pairs into clusters: connected components
    * by iterative min-label propagation, output (doc_id, cluster_id,
    * is_keeper) with cluster_id = the component's minimum doc id — the
    * step every dedup pipeline needs after pair generation (pairs say
    * "a≈b"; training-set construction needs ONE keeper per transitive
    * group). Deterministic output (component min), so any engine agrees.
    *
    * Scale: each iteration is one join + one map-side-combinable min —
    * iteration count tracks the component diameter, which for near-dup
    * graphs is tiny (dup groups are cliques-ish, diameter ≤ ~3), so the
    * common case pays nothing extra. Adversarial deep-chain components
    * are bounded too: from iteration [[ShortcutAfterIters]] the loop adds
    * a pointer-jump round (compose each node's label through the previous
    * generation's label table, lbl ← min(lbl, lbl(lbl))) — reach roughly
    * doubles per round, so a diameter-d component converges in
    * O([[ShortcutAfterIters]] + log d) iterations instead of O(d); the
    * deep-chain spec and ScaleBench's `chain1k_iters` probe measure it.
    * The jump join keys on the label table (n rows, ids only), strictly
    * smaller than the edge join it rides with.
    *
    * Lineage discipline: every generation's plan would otherwise embed
    * every prior generation's `InMemoryRelation` (a 13k-line plan dump at
    * diameter 3; a planner/memory hazard on a deep-chain component at
    * 100×), so the loop `localCheckpoint()`s every
    * [[CheckpointEveryIters]] iterations to cut the chain, and the final
    * labels are checkpointed too — the returned frame is self-contained,
    * letting the loop's working caches (directed pairs, edges,
    * intermediate generations) be unpersisted before returning instead of
    * accumulating in the session cache across invocations.
    */
  val CheckpointEveryIters = 3

  /** First iteration that adds the pointer-jump round to the CC loop.
    * Below this, components have converged already in the typical dedup
    * corpus (clique-ish groups, diameter ≤ ~3) and the extra join would
    * be pure overhead; past it, the loop is evidently walking a deep
    * component and the jump turns the remaining O(d) tail into O(log d).
    */
  val ShortcutAfterIters = 4

  /** Iteration count of the most recent [[dedupClusters]] fixpoint on this
    * JVM — reported in ScaleBench's JSON so the scale probe shows how the
    * propagation depth behaves as the corpus scales (it tracks component
    * diameter, not corpus size).
    */
  val lastClusterIterations = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Edge-count ceiling for [[dedupClusters]]' driver-side fast path: at
    * or below it the component resolution is a local union-find over the
    * collected edge list instead of the iterative join loop — the same
    * adaptive principle as AQE broadcasting a byte-small join side. A
    * tiny graph costs the loop a dozen Spark jobs (join + agg + count per
    * round) of pure fixed overhead; 100k edges collect in a few MB and
    * resolve in milliseconds. Output is identical by construction (the
    * component-min label does not depend on resolution order — spec'd
    * both ways); `0` forces the distributed loop (ScaleBench's
    * convergence probes do, so the published iteration counts keep
    * measuring the loop).
    */
  val SmallGraphMaxEdges = 100000

  /** RDD ids pinned (storage level set) in the lineage of `df`'s physical
    * RDD — for a locally-checkpointed frame this is exactly the checkpoint
    * block RDD the eager checkpoint registered. Reading the frame's OWN
    * lineage, instead of diffing `sc.getPersistentRDDs` around the
    * checkpoint call, is what makes the tracking safe on a shared session:
    * the snapshot diff attributed any RDD a CONCURRENT query pinned inside
    * the window (Verify runs four queries at a time on one session) to
    * this loop, which would later unpersist live blocks out from under it
    * — unrecoverable for a locally-checkpointed frame, whose lineage is
    * already truncated. The walk never runs a job: `toRdd` only builds the
    * RDD graph, and a checkpointed frame's graph is a few narrow wrappers
    * over the pinned RDD.
    */
  private[llm] def pinnedRddIds(df: DataFrame): Set[Int] = {
    val seen = scala.collection.mutable.HashSet.empty[Int]
    val pinned = scala.collection.mutable.HashSet.empty[Int]
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit = if (seen.add(r.id)) {
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        pinned += r.id
      r.dependencies.foreach(d => walk(d.rdd))
    }
    walk(df.queryExecution.toRdd)
    pinned.toSet
  }

  def dedupClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b",
      smallGraphMaxEdges: Int = SmallGraphMaxEdges): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = pairs.sparkSession
    // Checkpoint mode: localCheckpoint is the right call in local mode and
    // on the bench (no executor loss), but it is lossy if an executor dies
    // on a real cluster. Setting spark.graft.cc.checkpointDir switches the
    // loop to reliable checkpoints written to that directory — the cluster
    // deployment knob.
    val ckptDir = spark.conf.getOption("spark.graft.cc.checkpointDir")
    ckptDir.foreach(spark.sparkContext.setCheckpointDir)
    // superseded checkpoint blocks are pinned at the RDD layer where
    // Dataset.unpersist can't reach them (see [[bpeTrain]]'s truncate for
    // the measured cost of leaving them to driver GC): track the RDD ids
    // each truncation pins and free them when the next truncation
    // supersedes them. The FINAL checkpoint is deliberately not freed —
    // it backs the returned frame; the ContextCleaner reclaims it once
    // the caller drops the frame.
    var liveCkptIds: Set[Int] = Set.empty
    def truncate(df: DataFrame): DataFrame = {
      val out = if (ckptDir.isDefined) df.checkpoint() else df.localCheckpoint()
      val added = pinnedRddIds(out)
      liveCkptIds.foreach(id =>
        spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      liveCkptIds = added
      out
    }
    // persist the directed pairs once: the union references them twice,
    // and without the cache the upstream pair-generation (LSH join +
    // verify) would run twice
    val p = pairs.select(col(idA).as("src"), col(idB).as("dst")).persist(lvl)
    if (smallGraphMaxEdges > 0 &&
        p.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)) {
      // the count materializes the persist the loop would have populated
      // anyway; the adaptive switch reads a driver scalar, like the loop's
      // convergence check
      val nEdges = p.count()
      if (nEdges <= smallGraphMaxEdges) {
        val edges = p.collect().map(r => (r.getLong(0), r.getLong(1)))
        p.unpersist(false)
        lastClusterIterations.set(0)
        // path-halving union-find, then component-min relabel: the final
        // label is min(component) regardless of union order, exactly the
        // loop's fixpoint
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = parent.getOrElseUpdate(x, x)
          while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
          r
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val labels = parent.keys.toSeq.map(n => (n, find(n)))
        val byRoot = labels.groupBy(_._2).flatMap { case (_, members) =>
          val lbl = members.iterator.map(_._1).min
          members.map { case (n, _) => (n, lbl) }
        }
        import spark.implicits._
        return byRoot.toSeq.toDF("doc_id", "cluster_id")
          .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      }
    }
    val edges = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .persist(lvl)
    // initialization fuses the first propagation round: lbl = min(self,
    // min direct neighbor) straight off the edge list — one groupBy
    // instead of the first join+compare iteration
    var labels = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("min_nbr"))
      .select(col("node"), least(col("node"), col("min_nbr")).as("lbl"))
      .persist(lvl)
    // `prev` is the exact persisted/checkpointed generation frame:
    // unpersist only matches sameResult plans, so calling it on a
    // projection of the generation (as earlier rounds did) was a no-op
    // and superseded generations stayed cached for the whole loop.
    var prev: DataFrame = labels
    var changed = 1L
    var iters = 0
    while (changed > 0) {
      iters += 1
      // one join + combinable min per iteration; the old label rides along
      // so convergence is read off the same frame (no second join)
      val prop = edges.join(labels.withColumnRenamed("node", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nbr_lbl"))
      val gen0 = labels.join(prop, col("node") === col("src"), "left")
        .select(col("node"), col("lbl").as("old_lbl"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
      // pointer-jump on deep components: lbl ← min(lbl, lbl(lbl)) via the
      // previous (persisted) generation — reach doubles per round, so a
      // chain that would take O(d) propagation rounds finishes in
      // O(log d). Labels only decrease and every label is a node id from
      // the same component (lbl(lbl) is transitively connected), so the
      // invariant — and the component-min fixpoint — is unchanged.
      val gen = if (iters < ShortcutAfterIters) gen0 else
        gen0.join(labels.select(col("node").as("jn"), col("lbl").as("jlbl")),
            col("lbl") === col("jn"), "left")
          .select(col("node"), col("old_lbl"),
            least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"))
      // periodic checkpoint (eager) materializes the generation and
      // truncates its lineage; other generations persist
      val next =
        if (iters % CheckpointEveryIters == 0) truncate(gen)
        else gen.persist(lvl)
      changed = next.filter(col("lbl") =!= col("old_lbl")).count()
      // `next` is materialized at this point (checkpoint is eager; count
      // populated the persist), so the superseded generation can be
      // released. For persisted generations this frees the blocks now; for
      // locally-checkpointed ones unpersist is a no-op — their RDD-level
      // blocks are reclaimed by the ContextCleaner once the frame is
      // garbage-collected, same as the final frame documented below.
      prev.unpersist(false)
      prev = next
      labels = next.select("node", "lbl")
    }
    lastClusterIterations.set(iters)
    // final checkpoint severs the result from every loop-internal cache,
    // so the working set can be released here rather than leaking into the
    // caller's session (the blocks behind the returned frame are reclaimed
    // by the ContextCleaner once the frame itself is garbage-collected)
    val resolved = truncate(labels)
    prev.unpersist(false)
    edges.unpersist(false)
    p.unpersist(false)
    resolved.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
  }

  /** The terminal step of the dedup pipeline: materialize the deduplicated
    * corpus. Resolves `pairs` into clusters ([[dedupClusters]]) and
    * anti-joins the corpus against the non-keeper members, keeping every
    * document that either has no near-dup at all or is its cluster's
    * keeper (minimum doc id — deterministic, engine-agnostic).
    *
    * Scale: the right side of the anti join is ids only (no text), sized
    * by the duplicate count, not the corpus; AQE broadcasts it when small.
    * A heavily-duplicated corpus degrades to a sort-merge anti join
    * shuffling the corpus by id — the unavoidable cost of a global dedup;
    * bucketing the corpus by `idCol` co-locates it.
    */
  def dedupApply(corpus: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val drop = dedupClusters(pairs)
      .filter(!col("is_keeper")).select(col("doc_id").as(idCol))
    corpus.join(drop, Seq(idCol), "left_anti")
  }

  // --------------------------------------------------- embedding cosine

  /** Ordered-fold dot product of two array<double> columns (Spark SQL text):
    * identical FP addition order to DuckDB's list_reduce, hence bit-exact.
    * zip_with (not element_at over an index sequence) so a computed input
    * array is evaluated once per row, not once per element — with indexed
    * access Catalyst inlines the producing expression into every
    * element_at, turning a 64-dim dot into O(64²) work.
    */
  def dotSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"

  /** Sign-projection bucket key — the LSH for cosine space. `bits` is the
    * code length: widen it as the corpus grows to keep buckets small
    * (recall/cost dial; 8 → 256 buckets is right for the harness SFs).
    */
  def signBucketSql(e: String, bits: Int = 8): String =
    "concat(" + (1 to bits).map(i =>
      s"case when element_at($e, $i) >= cast(0.0 as double) then '1' else '0' end").mkString(", ") + ")"

  /** Embedding near-dup: bucket by 8 sign bits (hyperplane LSH), verify
    * cosine ≥ threshold within buckets only. 2^8 buckets ⇒ bucket-local
    * joins; at 100 TB you widen the code length, the plan shape is
    * unchanged. Norms are precomputed per vector *before* the join — O(n)
    * instead of O(pairs) norm work.
    */
  def dedupCosine(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "e", threshold: Double = 0.99,
      bucketBits: Int = 8): DataFrame = {
    val c = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("e"))
      .withColumn("bucket", expr(signBucketSql("e", bucketBits)))
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
    c.as("a").join(c.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        expr(s"${dotSql("a.e", "b.e")} / (a.nrm * b.nrm)").as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ------------------------------------------------- decontamination

  /** Train/test contamination check — the benchmark-leakage sweep every
    * training-set build needs: using the SAME deterministic split as
    * [[TextAnalysis.trainValSplit]] (bucket < 90 train, ≥ 95 test), flag
    * every test document sharing a word-3-shingle with ANY train
    * document, with the shared-shingle count and total (the fraction is
    * the leakage score; 3-shingles, not bigrams — bigrams saturate on a
    * shared-vocabulary corpus). Shape at 100 TB: the train side collapses
    * to a distinct shingle-hash set (map-side combinable), the join is a
    * hash equi-join on the 31-bit hash, and no text crosses the shuffle.
    */
  def decontaminate(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // persisted: unlike keywords' tf (a shared EXCHANGE covers its two
    // consumers), the three bucket slices here are narrow filters with no
    // common exchange — uncached, the md5-shingle fold (the dominant
    // cost) re-runs per consumer (measured 0.85 → 3.0 s without it)
    val g = signaturesOf(corpus, idCol, textCol)
      .withColumn("bucket",
        expr(s"${h56("concat('split|', cast(doc_id as string))")} % 100"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trainGrams = g.filter(col("bucket") < 90)
      .select(explode(col("gs")).as("h")).distinct()
    val test = g.filter(col("bucket") >= 95)
    val shared = test.select(col("doc_id"), explode(col("gs")).as("h"))
      .join(trainGrams, "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    test.select(col("doc_id"), size(col("gs")).cast("bigint").as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  // -------------------------------- stored decontamination (benchmark) index

  /** Materialize the frozen BENCHMARK n-gram set under `dir` — the
    * stored artifact of a production decontamination gate: evaluation
    * suites are versioned, frozen documents, so their word-3-shingle
    * hashes are derived once and every training batch probes them
    * forever after ([[decontaminateStored]]). One `grams/` table of
    * distinct 56-bit shingle hashes, hash-clustered into `hb` bucket
    * directories (layout for appends/compaction, not probe pruning —
    * see the probe's scaladoc for why this artifact inverts the
    * broadcast rule). A new benchmark VERSION appends its grams
    * ([[appendDecontamIndex]]) — the table is a distinct SET, so
    * replayed or overlapping appends are exact duplicates that
    * [[compactDecontamIndex]]'s dedupRows collapses.
    */
  def buildDecontamIndex(benchmark: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    graft.cdc.Compaction.swapDir(s"$dir/grams") { tmp =>
      signaturesOf(benchmark, idCol, textCol)
        .select(explode(col("gs")).as("h")).distinct()
        .withColumn("hb", pmod(col("h"), lit(16)))
        .repartition(col("hb"))
        .write.mode("overwrite").partitionBy("hb").parquet(tmp)
    }

  /** Append a new benchmark version's grams — parquet `append` inside
    * the builder's hb directories; duplicates (grams shared with prior
    * versions, or a replayed append) are semantically harmless to the
    * probe (membership is membership) and physically collapsed at the
    * next compaction.
    */
  def appendDecontamIndex(benchmark: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    signaturesOf(benchmark, idCol, textCol)
      .select(explode(col("gs")).as("h")).distinct()
      .withColumn("hb", pmod(col("h"), lit(16)))
      .repartition(col("hb"))
      .write.mode("append").partitionBy("hb").parquet(s"$dir/grams")

  /** Fold + dedup the gram table — [[compactMinHashIndex]]'s contract
    * (every row is a deterministic function of benchmark text, so an
    * exact duplicate is a replayed/overlapping append).
    */
  def compactDecontamIndex(spark: SparkSession, dir: String): (Long, Long) =
    graft.cdc.Compaction.compactDir(spark, s"$dir/grams",
      Seq("hb"), Seq("hb"), dedupRows = true)

  /** Health gauge over the stored benchmark gram table — the
    * [[minHashIndexStats]] discipline for the decontam artifact: per hb
    * bucket, physical rows vs distinct grams. `n_rows − n_grams` is the
    * uncompacted append debt (overlapping benchmark versions / replayed
    * appends — membership-harmless but probe-cost-inflating), and a
    * bucket far off the others flags degenerate shingles. One combinable
    * groupBy over the narrow gram table, cheap after every append.
    */
  def decontamIndexStats(spark: SparkSession, dir: String): DataFrame =
    readStored(spark, s"$dir/grams")
      .groupBy(col("hb").cast("bigint").as("hb"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("h")).as("n_grams"))

  /** The production decontamination gate: flag every TRAINING batch doc
    * sharing a word-3-shingle with the stored benchmark set — the
    * direction a corpus build actually runs ([[decontaminate]] flags
    * test docs against a train split inside one corpus; here the
    * benchmark is the frozen artifact and the training corpus is the
    * unbounded probe side). Output per batch doc: (doc_id, n_grams,
    * n_shared, contaminated).
    *
    * This is the ONE stored artifact that is deliberately a broadcast
    * BUILD side: every other index in the lifecycle is corpus-sized
    * (signatures, cells, codes — broadcasting one is the at-scale
    * killer the PlanQualitySpec rules pin), but a benchmark gram set is
    * bounded by the evaluation suite — megabytes against a 100 TB
    * training corpus — and the probe side is the huge one, so the
    * right plan STREAMS the batch and broadcasts the artifact. The
    * hint is still size-gated ([[gateBroadcast]] over a parquet
    * footer-count job): a degenerate "benchmark" bigger than
    * [[GateBroadcastMaxRows]] drops the hint and AQE decides —
    * degrading to a shuffle join instead of dying on the 8 GB cap.
    */
  def decontaminateStored(batch: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // batch-derived cache backs the returned lazy frame (two consumers:
    // membership join + per-doc gram totals), released at the caller's
    // post-materialization clearCache; the loop uses the From variant
    val bsig = signaturesOf(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    decontaminateStoredFrom(bsig, dir)
  }

  /** [[decontaminateStored]] over a caller-derived (caller-persisted,
    * caller-released) [[signaturesOf]] frame — the [[StreamingIngest]]
    * form: the epoch's one shingling feeds the minhash probe, the
    * survivor append, AND this gate.
    */
  def decontaminateStoredFrom(bsig: DataFrame, dir: String): DataFrame = {
    val spark = bsig.sparkSession
    val bench0 = readStored(spark, s"$dir/grams").select("h")
    // replay duplicates in an uncompacted table would double n_shared —
    // membership must count each gram once; the gate's parquet
    // footer-count (not a scan) is the only eager step
    val bench = gateBroadcast(bench0.distinct(), bench0.count())
    val shared = bsig.select(col("doc_id"), explode(col("gs")).as("h"))
      .join(bench, "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    bsig.select(col("doc_id"), size(col("gs")).cast("bigint").as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  // ------------------------------------------- token commonness score

  /** Per-document mean corpus-unigram frequency — a transcendental-free
    * predictability proxy (common-token text scores high, rare-token text
    * low; the unigram-LM cousin of a perplexity filter, kept free of
    * log() so both engines are bit-identical). Corpus-global stats →
    * join-back, like [[boilerplate]]; the per-doc mean is an ORDERED fold
    * over the sorted per-token frequencies (sum order pinned ⇒
    * deterministic FP), never a plain double sum across a shuffle.
    *
    * Skew shape: the frequency join runs at (doc_id, tok, tf) granularity
    * — per-doc counts aggregated FIRST (map-side combinable, like
    * [[keywords]]'s tf table), then joined to the corpus frequency table.
    * Joining freq onto the raw exploded rows instead would route every
    * occurrence of every stop word through its token's single shuffle
    * bucket — at 100 TB the "the" bucket is pathological skew; at tf
    * granularity a hot token costs one row per document that contains it,
    * never one per occurrence. The per-doc fold runs at the SAME
    * granularity: one weighted product f·tf per distinct token, summed in
    * ascending product order (both engines state the identical arithmetic
    * — sort doubles, fold-left from 0.0 — so the result is cross-engine
    * bit-exact; equal products are interchangeable under addition, so the
    * tie order is immaterial). Nothing ever re-expands to per-occurrence
    * volume.
    *
    * The freq side carries no broadcast hint: vocabulary is sub-linear in
    * the corpus (Heaps' law) but NOT bounded — at 100 TB the URL/typo/
    * numeral tail can outgrow executor memory, where a forced broadcast
    * hard-fails. AQE broadcasts it while it fits and degrades to a
    * skew-split shuffle join when it doesn't.
    */
  def tokenFreqScore(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // the (doc_id, tok, tf) aggregate — already reduced from occurrences
    // to per-doc distinct tokens; freq derives from it by summing tf (no
    // second pass over the exploded rows). Deliberately NOT persisted:
    // the two consumers each re-run a cheap scan+partial-agg, which is
    // less work than materializing the whole tf table to block storage.
    val tf = textCorpus(corpus, idCol, textCol)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val freq = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    tf.join(freq, "tok")
      .crossJoin(broadcast(total))
      .withColumn("fw",
        col("cnt").cast("double") / col("total").cast("double") *
          col("tf").cast("double"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        expr("aggregate(array_sort(collect_list(fw)), cast(0.0 as double), (a, v) -> a + v)")
          .as("f_sum"))
      .select(col("doc_id"), col("n_tokens"),
        (col("f_sum") / col("n_tokens").cast("double")).as("mean_tok_freq"))
  }

  /** Corpus-bigram fluency score — the KenLM-shaped quality signal a
    * curation pipeline runs without a model artifact: the corpus itself
    * is the language model. Each document scores the mean transition
    * probability of its own bigrams under the corpus bigram counts,
    * P(w2|w1) ≈ c(w1,w2)/c(w1·) with prefix counts c(w1·) = Σ_w2
    * c(w1,w2) (derived from the bigram table — no second occurrence
    * pass). Gibberish and shuffled text score near zero; text whose
    * transitions the corpus has seen scores high. All-rational
    * arithmetic (no ln/exp — libm differences would break cross-engine
    * hashes); the per-doc sum folds the value-sorted list so the result
    * is bit-exact against the oracle stating the same fold.
    *
    * 100 TB shape: occurrences reduce to (doc, w1, w2, n) WITHIN each
    * document's own row ([[docBigrams]] — a doc's bigrams all
    * live in its text, so the reduce is a per-row sort + run-length
    * encode, no shuffle) and the weighted fold (n·c2/c1 per DISTINCT
    * doc-bigram) never re-expands them — the [[tokenFreqScore]]
    * discipline. Both corpus counts derive as window sums over that
    * reduced frame (no count table is ever materialized or joined
    * back): c1 partitions by w1 and plans first, so the one w1 hash
    * exchange satisfies the (w1, w2) window's clustering too — the
    * whole query is TWO exchanges (w1 windows, per-doc fold). The window
    * route also sidesteps the broadcast question entirely: nothing
    * vocabulary-sized ever sits on a build side, and a hot prefix (one
    * w1 owning a huge bigram fan-out) costs a partition-local sort, not
    * a skewed join. Docs with fewer than two tokens have no bigrams and
    * are absent from the output by construction.
    *
    * Harness-scale note: ~1.1 s at sf0.1 against the oracle's 0.13 s is
    * chained-stage fixed latency over a sub-megabyte frame, not volume.
    * Measured: the groupBy+join count form 1.42 s → windows 1.12 s
    * (REPS=5 medians); persisting the bigram table measured worse
    * (1.24 → 1.42 s) and the per-occurrence shortcut that WOULD collapse
    * a wave re-expands the aggregate the (doc,w1,w2,n) reduction exists
    * to avoid — the tokenFreqScore regression the round-10 verdict
    * flagged. The shape is the one that holds at corpus scale.
    */
  def fluencyScore(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // in-row bigram reduce ([[docBigrams]]): the (doc,w1,w2)
    // groupBy exchange the reduce used to pay never satisfied the w1
    // windows' clustering anyway, so dropping it removes a full shuffle
    // from the plan (3 → 2 exchanges; same rows, same integer sums,
    // same sorted fold — bit-identical, re-verified)
    val bic = docBigrams(corpus, idCol, textCol)
    // the two corpus counts as WINDOWS over the reduced frame instead of
    // groupBy+join: c1 (prefix count) partitions by w1, c2 (bigram count)
    // by (w1, w2) — c1 planned first, so the single w1 hash exchange
    // satisfies BOTH windows' clustering (rows equal on (w1, w2) are
    // equal on w1) and the whole count derivation costs one shuffle + two
    // sorts, with no count table ever joined back. Integer window sums
    // are exact, so v is bit-identical to the join form the oracle states.
    bic
      .withColumn("c1", sum(col("n")).over(Window.partitionBy("w1")))
      .withColumn("c2", sum(col("n")).over(Window.partitionBy("w1", "w2")))
      .withColumn("v", col("n").cast("double") *
        (col("c2").cast("double") / col("c1").cast("double")))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_bigrams"),
        expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (a, x) -> a + x)")
          .as("f_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("f_sum") / col("n_bigrams").cast("double")).as("fluency"))
  }

  /** The per-doc reduced bigram frame (doc_id, w1, w2, n) — the one
    * derivation [[fluencyScore]], [[buildFluencyModel]] and
    * [[fluencyStored]] all start from (single-sourced so the three can
    * never drift on tokenization or windowing). The reduce happens
    * entirely WITHIN each document's row: a doc's bigrams all live in
    * its own text, so a per-row sort + run-length encode (linear after
    * the sort) replaces a corpus-wide groupBy — the derivation is a
    * pure scan-stage projection with no exchange, the [[signaturesOf]]
    * discipline. Docs with fewer than two tokens have no bigrams and
    * are absent by construction.
    */
  def docBigrams(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // the fused [[graft.functions.BigramRle]] expression: split →
    // adjacent pairs → sort → run-length encode in one imperative pass
    // per row (row-set identical to the five-lambda SQL chain it
    // replaced — see the expression's scaladoc; equivalence spec'd).
    // Docs with fewer than two tokens yield an empty array and vanish
    // at the explode, the old filter's semantics.
    textCorpus(corpus, idCol, textCol)
      .select(col("doc_id"), explode(expr("bigram_rle(text)")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"),
        col("bg.w2").as("w2"), col("bg.n").as("n"))

  /** The per-doc reduced token-frequency frame (doc_id, tok, tf) —
    * [[docBigrams]]' unigram sibling, the one derivation every
    * token-weight scorer starts from: the reduce happens entirely WITHIN
    * each document's row ([[graft.functions.TokenRle]] — a doc's tokens
    * all live in its own text, so a per-row sort + run-length encode
    * replaces a corpus-wide groupBy; pure scan-stage projection, no
    * exchange). `Σ tf` per doc equals `size(split(text, ' '))`, so the
    * mass side of a matched-only fold stays derivable from the same
    * split.
    */
  def docTokens(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    textCorpus(corpus, idCol, textCol)
      .select(col("doc_id"), explode(expr("token_rle(text)")).as("tk"))
      .select(col("doc_id"), col("tk.tok").as("tok"), col("tk.tf").as("tf"))

  // ----------------------------------------------- stored fluency model

  /** Directory-partition fan-out of the stored LM's bigram table, and the
    * shared bucket derivation (build writes with it, the probe prunes
    * with it — single-sourced like sigBucket/bandBucket so the two can
    * never disagree on a row's directory).
    */
  val LmBuckets = 64
  def lmBucket(w1: Column): Column = pmod(hash(w1), lit(LmBuckets))

  /** Materialize the corpus bigram LM under `dir` — the REFERENCE model a
    * production fluency filter actually scores against (CCNet-style: the
    * LM is trained once on a trusted corpus generation, then every crawl
    * batch scores against that frozen artifact; [[fluencyScore]]'s
    * corpus-as-its-own-model form is the in-query special case). One
    * denormalized table `bigrams/` holds (w1, w2, c2, c1): the bigram
    * count and its prefix total on the same row, so the probe pays ONE
    * join instead of two. Directory-partitioned by `wb = [[lmBucket]]`
    * so a probe prunes to its batch's bucket footprint.
    *
    * `minCount` prunes rare bigrams (the classic KenLM size control —
    * the hapax tail dominates table size under Zipf) AFTER the prefix
    * totals are taken, so c1 keeps the full mass and surviving
    * probabilities stay exact: a pruned bigram scores 0 at probe time,
    * it does not inflate its siblings. Pruning is what bounds the
    * artifact at 100 TB — model size tracks the KEPT vocabulary, not the
    * corpus.
    *
    * The write goes through [[graft.cdc.Compaction.swapDir]] at the
    * artifact parent: create-or-REPLACE is atomic-by-rename (the old
    * generation serves readers throughout a rebuild, every crash window
    * rolls back to it), the [[rebuildPqIndex]] discipline. Like the BPE
    * tokenizer there is deliberately NO append path: counts are
    * mergeable in principle, but every merge changes the c1 denominators
    * and therefore every stored probability's meaning — the model is a
    * generation artifact, retrained per corpus drop, not an accumulator.
    */
  def buildFluencyModel(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      minCount: Long = 1L): Unit = {
    val bg = docBigrams(corpus, idCol, textCol)
      .groupBy("w1", "w2").agg(sum(col("n")).as("c2"))
      .withColumn("c1", sum(col("c2")).over(Window.partitionBy("w1")))
      .filter(col("c2") >= minCount)
      .withColumn("wb", lmBucket(col("w1")))
    graft.cdc.Compaction.swapDir(dir) { tmp =>
      bg.repartition(col("wb")).write.mode("overwrite")
        .partitionBy("wb").parquet(s"$tmp/bigrams")
    }
  }

  /** The LM probe's one-row eager payload over `docs`: total token count
    * (`toks` — the size-gate bound) and the distinct token-bucket set
    * (`buckets` — the partition-pruning footprint, ≤ [[LmBuckets]]
    * values). Exposed so an orchestrator running SEVERAL stored probes
    * over one batch ([[curateDelta]]) can crossJoin the probes'
    * footprint aggregates into ONE driver-blocking job — each eager
    * barrier is a full sequential stage chain, and fusing them is where
    * the latency goes. See [[fluencyStored]] for why the shape is
    * size-independent.
    */
  def lmFpAgg(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    textCorpus(docs, idCol, textCol)
      .select(size(split(col("text"), " ")).cast("bigint").as("k"),
        // the lambda restates [[lmBucket]] in SQL text (a lambda body
        // can't call the Column form): `hash` is the same Murmur3
        // expression in both dialects, and LmBuckets is interpolated —
        // keep the two in lockstep
        expr(s"array_distinct(transform(split(text, ' '), w -> pmod(hash(w), $LmBuckets)))").as("bs"))
      .select(col("k"), posexplode(col("bs")).as(Seq("p", "b")))
      .agg(sum(when(col("p") === 0, col("k"))).as("toks"),
        collect_set(col("b")).as("buckets"))

  /** Score `docs` against a STORED [[buildFluencyModel]] artifact — the
    * production fluency probe: the model is never re-derived, the batch
    * joins one-sidedly against the frozen table. Bit-identical to
    * [[fluencyScore]] when the model was built (unpruned) on the scored
    * corpus itself — same integers, same value-sorted fold (spec'd); on
    * NEW text, a bigram the model never saw contributes probability 0
    * (folding zeros first leaves the partial sum bit-unchanged, so
    * coverage differences never perturb the seen terms), and a doc with
    * no modeled bigram scores 0.0 — unseen transitions are evidence of
    * disfluency under the reference corpus, which is the filter's
    * semantics.
    *
    * 100 TB shape: the batch's bucket footprint (≤ [[LmBuckets]] values,
    * driver-safe at any batch size) pins a static partition filter on the
    * model scan — the stored-LSH-probe discipline — and the batch side
    * carries a size-gated broadcast hint ([[GateBroadcastMaxRows]]), so
    * an ingest micro-batch streams the pruned model directories with no
    * model-side shuffle, while a corpus-sized backfill drops the hint and
    * AQE decides. The unmatched side is recovered without any outer join
    * (a left join would need the model as the build side of an outer
    * join — unsupported broadcast-left shape): matched probability terms
    * union with the batch's own mass rows and ONE per-doc aggregation
    * folds both; the mass rows are a plain `size(t)-1` projection, so
    * only the probability join ever pays the bigram encode
    * ([[docBigrams]] — in-row RLE, no reduce shuffle). Model cost
    * is bounded by `minCount` pruning at build time, and the artifact is
    * generation-frozen: probe cost tracks model size and batch
    * footprint, never the (growing) ingested corpus.
    *
    * Harness-scale note (measured at sf0.1, 500-doc batch, REPS=5
    * medians): ~0.95 s vs the oracle's ~0.1 s is chained-stage fixed
    * latency — the footprint action plus a main job whose stages are all
    * ≤ 250 ms over sub-megabyte frames — not volume. Measured-and-
    * rejected alternatives: per-doc outer join (1.3 s), persisted batch
    * bigrams (1.6 s — the cache write dominates, the llm_keywords
    * lesson), driver-localized batch via limit-guarded collect (1.9 s —
    * Row decode + 32-slice local relations). The shape here is the one
    * that holds at corpus scale: per-batch work is the batch's own
    * narrow derivation plus a pruned streamed model scan.
    */
  def fluencyStored(docs: DataFrame, modelDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      fpRow: Option[org.apache.spark.sql.Row] = None): DataFrame = {
    // ONE light eager job (a single-row aggregate, [[lmFpAgg]]) derives
    // the bucket footprint and the size gate from in-row projections:
    // per-doc bucket sets dedup inside the row (≤ LmBuckets elements
    // each), then posexplode + collect_set reduce them through a merge
    // buffer BOUNDED at LmBuckets values — partial aggregation collapses
    // each partition to ≤ 64 distinct buckets before anything crosses
    // the wire, so the job is size-independent in doc count (not just in
    // its final result). The token total rides the same job: only a
    // row's pos-0 bucket carries its doc's k, so the sum counts each
    // doc exactly once. No bigram shuffle, nothing cached — the bigram
    // frame's two consumers (probability join, mass rows) share their
    // one shuffle through exchange reuse, the llm_keywords lesson.
    // Every w1 is a token, so token buckets are a superset of prefix
    // buckets (pruning stays sound, at most one extra directory opens),
    // and the token count bounds the bigram-row count from above (the
    // gate only ever degrades toward the safe, unhinted side).
    // An orchestrator that already fused this aggregate into its own
    // eager job passes the row in ([[curateDelta]]'s fused collect) and
    // no job runs here at all — name-based field access, so the row may
    // carry other probes' footprint fields alongside.
    val fp = fpRow.getOrElse(lmFpAgg(docs, idCol, textCol).collect()(0))
    // per-doc totals need NO bigram encode: a doc's bigram mass is
    // size(t)-1, read straight off its own row
    val mass = textCorpus(docs, idCol, textCol)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), lit(null).cast("double").as("v"),
        (size(col("t")) - 1).cast("bigint").as("nn"))
    probeStored(gateBroadcast(docBigrams(docs, idCol, textCol), fpCount(fp, "toks")),
      mass, modelDir,
      Option(fp.getSeq[Int](fp.fieldIndex("buckets"))).getOrElse(Seq.empty))
  }

  /** [[fluencyStored]] over a caller-derived (caller-persisted,
    * caller-released) [[docBigrams]] frame — the form the ingest gate
    * uses when the epoch already owns a shared bigram cache. The
    * footprint job here reads `bg` itself (materializing the caller's
    * cache as a side effect).
    */
  def fluencyStoredFrom(bg: DataFrame, modelDir: String): DataFrame = {
    // static partition pruning off the batch's bounded bucket footprint
    // (≤ LmBuckets values, [[pinPartitions]]). ONE eager job derives
    // the footprint AND the size-gate row count.
    val bucketCounts = bg.groupBy(lmBucket(col("w1")).as("wb"))
      .agg(count(lit(1)).as("c")).collect()
    probeStored(gateBroadcast(bg, bucketCounts.map(_.getLong(1)).sum),
      bg.select(col("doc_id"), lit(null).cast("double").as("v"),
        col("n").as("nn")),
      modelDir, bucketCounts.map(_.getInt(0)).toSeq)
  }

  /** The probe's shared tail: `bg` the batch's reduced (doc_id, w1, w2,
    * n) bigram rows (fed to the probability join), `mass` the per-doc
    * totals as (doc_id, v=null, nn) rows — the [[fluencyStored]] path
    * derives them as a plain `size(t)-1` projection (no bigram encode at
    * all), the From variant re-reads its caller's cached frame. `bg`
    * arrives with the caller's broadcast decision already applied
    * ([[gateBroadcast]]).
    */
  private def probeStored(bg: DataFrame, mass: DataFrame, modelDir: String,
      buckets: Seq[Int]): DataFrame = {
    val spark = bg.sparkSession
    // NO row-level model pruning beyond the bucket pins: semi-joining
    // the model against the batch's distinct-w1 set first (the "let the
    // churn's prefixes prune the weight rows" idea) was measured WORSE
    // on the nightly — llm_curate_delta_lm 3.83 → 4.20 s solo median at
    // sf0.1 (matched A/B) — because the probability join below is
    // already the row filter: the bucket-pruned model streams through
    // the broadcast hash probe once, and a pre-prune adds a distinct +
    // second join stage to save hash lookups that cost nothing. At
    // production scale the wb partition pins bound what is read; rows
    // within probed buckets are cheapest dropped AT the join.
    val model = pinPartitions(readStored(spark, s"$modelDir/bigrams"),
      "wb" -> buckets)
    // ONE aggregation serves both outputs: matched rows carry their
    // probability term (and 0 bigram mass), each mass row its doc's
    // bigram total (and a null term that collect_list skips) — so the
    // fold sees exactly the matched multiset, n_bigrams sums the batch's
    // own counts, and a doc with no modeled transition folds an empty
    // list to 0.0. No per-doc outer join, no coalesce: the union is the
    // unmatched-recovery.
    val matched = model.join(bg, Seq("w1", "w2"))
      .select(col("doc_id"),
        (col("n").cast("double") *
          (col("c2").cast("double") / col("c1").cast("double"))).as("v"),
        lit(0L).as("nn"))
    matched.unionByName(mass)
      .groupBy("doc_id")
      .agg(sum(col("nn")).as("n_bigrams"),
        expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (a, x) -> a + x)")
          .as("f_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("f_sum") / col("n_bigrams").cast("double")).as("fluency"))
  }

  /** Health gauge for a stored [[buildFluencyModel]] artifact — size and
    * mass in one row: distinct prefixes (vocabulary), stored bigram rows
    * (what `minCount` pruning is bounding), total transition mass, and
    * the hottest prefix's mass (a skew early-warning: one w1 owning a
    * huge share means its bucket's directories dominate probe cost).
    * Maintenance-cadence read of the stored table, never in the probe
    * path.
    */
  def lmStats(spark: SparkSession, modelDir: String): DataFrame =
    readStored(spark, s"$modelDir/bigrams")
      .agg(countDistinct(col("w1")).as("n_prefixes"),
        count(lit(1)).as("n_bigrams"),
        sum(col("c2")).as("total_mass"),
        max(col("c1")).as("max_prefix_mass"))

  /** PER-LANGUAGE health of a stored [[buildFluencyModelByLang]]
    * artifact — the read [[lmStats]] cannot provide: the same four
    * aggregates grouped by language over the (lang, wb)-partitioned
    * table, so a collapsed minority-language model (a handful of rows,
    * vanishing mass — the exact failure the per-language family exists
    * to prevent, and one a global total averages away) reads as its own
    * row. One combinable groupBy on the partition column itself
    * (languages number in the dozens — bounded output); maintenance-
    * cadence scan of the artifact, never in the probe path.
    */
  def lmStatsLang(spark: SparkSession, modelDir: String): DataFrame =
    readStored(spark, s"$modelDir/bigrams")
      .groupBy(col("lang"))
      .agg(countDistinct(col("w1")).as("n_prefixes"),
        count(lit(1)).as("n_bigrams"),
        sum(col("c2")).as("total_mass"),
        max(col("c1")).as("max_prefix_mass"))

  /** Calibrate a CCNet-style head/middle/tail partitioner (Wenzek et
    * al. 2019) and freeze it as a stored artifact: the calibration
    * slice scores against the stored reference LM, its exact tercile
    * cut TUPLES (k-th smallest (fluency, doc_id), k = ceil(n/3) and
    * ceil(2n/3)) land in a one-row `cuts` parquet under `dir` via the
    * same atomic [[graft.cdc.Compaction.swapDir]] every other artifact
    * rebuild uses. CCNet computes its perplexity cutoffs OFFLINE on a
    * held-out sample and applies them statelessly ever after — the cuts
    * are maintenance-cadence, never on the scoring path.
    *
    * The calibration slice is bounded BY DESIGN (an eval-suite-sized
    * held-out sample — the `refMod` slice is the harness stand-in, the
    * recall-gauge discipline), so its probe partition-prunes off the
    * slice's bucket footprint and the two cut tuples are sort-limits
    * over a bounded frame. Tuple ties break on doc_id; the fluency
    * doubles are the probe's value-sorted fold — bit-identical
    * cross-engine, so an oracle restating the ranks agrees exactly.
    */
  def buildLmPartitioner(corpus: DataFrame, modelDir: String, dir: String,
      refMod: Int = 10, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val ref = fluencyStored(
        corpus.filter(col(idCol) % refMod === 0), modelDir, idCol, textCol)
      .select(col("doc_id"), col("fluency"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = ref.count()
    require(cnt > 0, s"empty calibration slice ($idCol % $refMod)")
    // cutAt's limit(k.toInt) truncates: an over-Int calibration slice
    // must fail loudly, not produce corrupt tercile cuts (a calibration
    // SAMPLE this size is itself a configuration error — raise refMod)
    require(cnt <= Int.MaxValue,
      s"calibration slice too large ($cnt rows): raise refMod so the " +
        "sample fits limit()'s Int bound")
    def cutAt(k: Long, as: String): DataFrame =
      ref.orderBy(col("fluency"), col("doc_id")).limit(k.toInt)
        .agg(max(struct(col("fluency"), col("doc_id"))).as(as))
    graft.cdc.Compaction.swapDir(dir) { tmp =>
      cutAt((cnt + 2) / 3, "c1").crossJoin(cutAt((2 * cnt + 2) / 3, "c2"))
        .select(col("c1.fluency").as("f1"), col("c1.doc_id").as("d1"),
          col("c2.fluency").as("f2"), col("c2.doc_id").as("d2"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/cuts")
    }
    ref.unpersist()
  }

  /** Apply a stored [[buildLmPartitioner]]: every document scores
    * against the stored reference LM and lands in `tail` (below the
    * frozen first cut — the least fluent reference-third), `middle`, or
    * `head` by threshold comparison. Corpus buckets are NOT equal-sized
    * — that is the point: the thresholds describe the CALIBRATION
    * distribution, and a corpus cleaner (or dirtier) than the held-out
    * sample skews toward `head` (or `tail`).
    *
    * 100 TB shape: ONE probe pass, stateless ever after. Corpus-wide
    * scoring visits every model bucket by construction, so no footprint
    * job runs and no broadcast hint applies (the batch IS the corpus) —
    * [[probeStored]] scans the full model and AQE picks the join build
    * side; the cut row is the frozen artifact (two tuples — collected
    * like the BPE merge table, artifact-sized by definition) and the
    * bucket CASE is a literal struct comparison fused into the probe's
    * output projection. No global sort, no window, no second pass.
    */
  /** The frozen cut tuples as literal comparison structs — one reader
    * shared by every surface that applies a [[buildLmPartitioner]]
    * artifact (field names must mirror the probe side's
    * struct(fluency, doc_id): struct comparison requires same-named
    * field types).
    */
  private def lmCutStructs(spark: SparkSession,
      cutsDir: String): (Column, Column) = {
    val c = readStored(spark, s"$cutsDir/cuts").collect()(0)
    (struct(lit(c.getDouble(0)).as("fluency"), lit(c.getLong(1)).as("doc_id")),
      struct(lit(c.getDouble(2)).as("fluency"), lit(c.getLong(3)).as("doc_id")))
  }

  /** The head/middle/tail label over a scored (doc_id, fluency) row —
    * the ONE bucket definition [[lmPartition]], [[lmPartitionApply]]
    * and the live loop's cuts gate all fuse (single-sourced so the
    * surfaces can never drift on tie handling).
    */
  private def lmBucketCol(cut1: Column, cut2: Column): Column =
    when(struct(col("fluency"), col("doc_id")) <= cut1, lit("tail"))
      .when(struct(col("fluency"), col("doc_id")) <= cut2, lit("middle"))
      .otherwise(lit("head"))

  /** The CCNet selection predicate over a bucketed row: keep the `head`
    * whole, keep `midPermille`/1000 of the `middle` by salted doc-id
    * hash (reproducible, order-free, the [[sampleByHash]] discipline),
    * drop the `tail`.
    */
  private def ccnetKeep(midPermille: Int): Column =
    col("bucket") === "head" || (col("bucket") === "middle" &&
      expr(s"${h56("concat('lmsamp|', cast(doc_id as string))")} % 1000")
        < midPermille)

  def lmPartition(corpus: DataFrame, modelDir: String, cutsDir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = corpus.sparkSession
    val (cut1, cut2) = lmCutStructs(spark, cutsDir)
    val mass = textCorpus(corpus, idCol, textCol)
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), lit(null).cast("double").as("v"),
        (size(col("t")) - 1).cast("bigint").as("nn"))
    probeStored(docBigrams(corpus, idCol, textCol), mass, modelDir,
        0 until LmBuckets)
      .select(col("doc_id"), col("fluency"),
        lmBucketCol(cut1, cut2).as("bucket"))
  }

  /** Terminal materialization of the stored partition — the CCNet
    * selection rule ([[ccnetKeep]]): a stateless filter fused onto
    * [[lmPartition]]'s one probe pass — same plan plus a predicate,
    * nothing new shuffles.
    */
  def lmPartitionApply(corpus: DataFrame, modelDir: String,
      cutsDir: String, midPermille: Int = 500, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(midPermille >= 0 && midPermille <= 1000,
      "midPermille is a per-mille keep rate in [0, 1000]")
    lmPartition(corpus, modelDir, cutsDir, idCol, textCol)
      .filter(ccnetKeep(midPermille))
  }

  /** The frozen-cuts CCNet selection applied to an ALREADY-SCORED
    * (doc_id, fluency) frame — the rule [[lmPartitionApply]] fuses onto
    * its own corpus-wide probe, exposed so the live ingest loop can
    * apply the SAME artifact (same bucket ties, same salted middle
    * sample) to its per-epoch footprint-pruned score without a second
    * scoring pass. Returns the kept doc_id frame. Stateless: the cuts
    * row is a frozen two-tuple artifact, the sample hash is
    * deterministic in the id — a replayed epoch selects identically,
    * zero new crash windows.
    */
  def lmSelectIdsFrom(scored: DataFrame, cutsDir: String,
      midPermille: Int = 500): DataFrame = {
    require(midPermille >= 0 && midPermille <= 1000,
      "midPermille is a per-mille keep rate in [0, 1000]")
    val (cut1, cut2) = lmCutStructs(scored.sparkSession, cutsDir)
    GraftExtensions.register(scored)
      .withColumn("bucket", lmBucketCol(cut1, cut2))
      .filter(ccnetKeep(midPermille))
      .select(col("doc_id"))
  }

  // --------------------------------------------------- keyword extraction

  /** Top-k keywords per document by tf × (N/df) — TF-IDF with a rational
    * idf (N/df is a monotone transform of ln(N/df), so the RANKING is
    * identical while the arithmetic stays one exact-integer division —
    * ln() differs across libms and would break cross-engine hashes).
    * Corpus document frequency over deduped (doc, token) pairs → join
    * back → per-doc window top-k. Ties break on the token string so both
    * engines agree.
    */
  // ------------------------------ per-language stored fluency models

  /** [[docBigrams]] with the document's language label riding every
    * bigram row — the derivation the per-language model family shares.
    */
  private[llm] def docBigramsLang(corpus: DataFrame, idCol: String,
      textCol: String, langCol: String): DataFrame =
    GraftExtensions.register(corpus.select(col(idCol).as("doc_id"),
        col(textCol).as("text"), col(langCol).as("lang")))
      .select(col("doc_id"), col("lang"),
        explode(expr("bigram_rle(text)")).as("bg"))
      .select(col("doc_id"), col("lang"), col("bg.w1").as("w1"),
        col("bg.w2").as("w2"), col("bg.n").as("n"))

  /** PER-LANGUAGE stored bigram LM — CCNet's actual regime (Wenzek et
    * al. 2019 trains one KenLM per language; a single global bar
    * systematically mis-scores minority languages because transition
    * mass concentrates in the majority language's vocabulary): counts
    * and prefix totals are computed WITHIN each language (c1 = Σ_w2 c2
    * per (lang, w1)), so a document's score is its probability under
    * ITS OWN language's model. One `bigrams/` table partitioned by
    * (lang, wb) — the probe prunes to its batch's (language, bucket)
    * footprint, so a Swahili batch never opens the English directories.
    * `langCol` is the corpus' language label (upstream lang-id — compose
    * [[TextAnalysis.langId]] when the corpus carries none). Same
    * atomic-swap, rebuild-only generation discipline as
    * [[buildFluencyModel]] (merging would change c1 denominators).
    */
  def buildFluencyModelByLang(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang", minCount: Long = 1L): Unit = {
    val bg = docBigramsLang(corpus, idCol, textCol, langCol)
      .groupBy("lang", "w1", "w2").agg(sum(col("n")).as("c2"))
      .withColumn("c1",
        sum(col("c2")).over(Window.partitionBy("lang", "w1")))
      .filter(col("c2") >= minCount)
      .withColumn("wb", lmBucket(col("w1")))
    graft.cdc.Compaction.swapDir(dir) { tmp =>
      bg.repartition(col("lang"), col("wb")).write.mode("overwrite")
        .partitionBy("lang", "wb").parquet(s"$tmp/bigrams")
    }
  }

  /** Batch fluency against the stored PER-LANGUAGE LM — each document
    * scores under its own language's transition model
    * ([[fluencyStored]]'s arithmetic, language-keyed): the batch's
    * bounded (lang, wb) footprint (≤ languages × [[LmBuckets]] pairs,
    * ONE fused single-row aggregate with the token size gate) pins a
    * STATIC partition filter on the model scan, the probability join
    * keys on (lang, w1, w2) with the batch side broadcast when small,
    * and unmatched transitions recover through the same union-mass
    * value-sorted fold — bit-exact cross-engine, no libm. The model is
    * streamed, pruned, and never a broadcast build side. Output carries
    * the language so a per-language bar can apply downstream.
    */
  def fluencyStoredByLang(docs: DataFrame, modelDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    // Footprint from in-row projections over the corpus scan — the
    // [[lmFpAgg]] shape, language-keyed — so the bigram frame has
    // exactly ONE consumer (the probability join) and NOTHING is
    // cached, matching [[fluencyStored]]'s discipline (the previous
    // form persisted bg with no release path: an unbounded pin in a
    // long-lived session). Per language, token buckets are a superset
    // of prefix buckets (pruning stays sound, at most one extra
    // directory opens per language) and the token total bounds the
    // bigram mass from above (the size gate only degrades toward the
    // safe, unhinted side). Orchestrators that own a shared bigram
    // cache use [[fluencyStoredByLangFrom]] with their own footprint.
    val fp = lmLangFpAggDocs(docs, textCol, langCol).collect()(0)
    fluencyStoredByLangFrom(docs,
      docBigramsLang(docs, idCol, textCol, langCol),
      modelDir, idCol, textCol, langCol, Some(fp))
  }

  /** The per-language footprint derived from the CORPUS scan itself
    * (no bigram encode): distinct (lang, token-bucket) pairs as `lm_lw`
    * and the batch token total as `lm_lt` — field-compatible with
    * [[lmLangFpAgg]] (name-based row access downstream), with the two
    * documented over-approximations of [[lmFpAgg]]: token buckets ⊇
    * prefix buckets, token total ≥ bigram mass.
    */
  def lmLangFpAggDocs(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang"): DataFrame =
    docs.select(col(langCol).as("lang"), col(textCol).as("text"))
      .select(col("lang"),
        size(split(col("text"), " ")).cast("bigint").as("k"),
        expr(s"array_distinct(transform(split(text, ' '), w -> pmod(hash(w), $LmBuckets)))").as("bs"))
      .select(col("lang"), col("k"), posexplode(col("bs")).as(Seq("p", "b")))
      .agg(
        collect_set(struct(col("lang"), col("b").as("wb"))).as("lm_lw"),
        sum(when(col("p") === 0, col("k"))).as("lm_lt"))

  /** The per-language probe's one-row eager payload over a
    * [[docBigramsLang]] frame: the distinct (lang, wb) footprint (`lm_lw`,
    * ≤ languages × [[LmBuckets]] pairs) and the batch transition mass
    * (`lm_lt`, the size gate) — the [[lmFpAgg]] shape, language-keyed.
    * Exposed so an orchestrator ([[curateDelta]]'s by-lang path) can
    * crossJoin it into its ONE fused driver barrier.
    */
  def lmLangFpAgg(bg: DataFrame): DataFrame =
    bg.agg(
      collect_set(struct(col("lang"), lmBucket(col("w1")).as("wb"))).as("lm_lw"),
      sum(col("n")).as("lm_lt"))

  /** [[fluencyStoredByLang]] over a caller-derived (caller-persisted,
    * caller-released) [[docBigramsLang]] frame — the live loop's form
    * ([[fluencyStoredFrom]]'s per-language twin): the epoch owns the
    * shared lang-bigram cache, and the footprint job here materializes
    * it as a side effect.
    */
  def fluencyStoredByLangFrom(docs: DataFrame, bg: DataFrame,
      modelDir: String, idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang",
      fpRow: Option[org.apache.spark.sql.Row] = None): DataFrame = {
    val spark = docs.sparkSession
    val fp = fpRow.getOrElse(lmLangFpAgg(bg).collect()(0))
    val pairs = Option(fp.getSeq[org.apache.spark.sql.Row](fp.fieldIndex("lm_lw")))
      .getOrElse(Seq.empty).map(r => (r.getString(0), r.getInt(1)))
    // the probability join is exact on (lang, w1, w2), so the
    // cross-product pin is pure pruning
    val model = pinPartitions(readStored(spark, s"$modelDir/bigrams"),
      "lang" -> pairs.map(_._1), "wb" -> pairs.map(_._2))
    val matched = model.join(gateBroadcast(bg, fpCount(fp, "lm_lt")),
        Seq("lang", "w1", "w2"))
      .select(col("doc_id"), col("lang"),
        (col("n").cast("double") *
          (col("c2").cast("double") / col("c1").cast("double"))).as("v"),
        lit(0L).as("nn"))
    val mass = docs.select(col(idCol).as("doc_id"),
        col(langCol).as("lang"), col(textCol).as("text"))
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"), lit(null).cast("double").as("v"),
        (size(col("t")) - 1).cast("bigint").as("nn"))
    matched.unionByName(mass)
      .groupBy("doc_id", "lang")
      .agg(sum(col("nn")).as("n_bigrams"),
        expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (a, x) -> a + x)")
          .as("f_sum"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        (col("f_sum") / col("n_bigrams").cast("double")).as("fluency"))
  }

  /** Largest per-language calibration sample [[buildLmPartitionerByLang]]
    * scores: the [[SamplerHeapMaxK]] rationale (a 64k-entry heap ≈ 1 MiB
    * per language buffer), and 64k docs per language estimate a tercile
    * bar far inside the noise of the slice itself.
    */
  val LmCalibMaxPerLang = 65536

  /** The ABSOLUTE-BOUNDED per-language calibration slice: the `refMod`
    * sample capped at `maxPerLang` docs per language — bottom-k by a
    * salted 56-bit id hash via the bounded-buffer
    * [[graft.functions.MinKAgg]] (heaps combine map-side; nothing larger
    * than the cap crosses the wire), ids joined back by semi join. At
    * 100 TB a fraction-only slice puts 10% of the majority language
    * behind the rank window — the cap bounds both the scoring cost and
    * the window's largest partition by a CONSTANT, not a corpus
    * fraction. When the cap exceeds a language's slice the selection is
    * the identity and the frozen cuts are unchanged (spec'd).
    */
  def lmCalibSlice(corpus: DataFrame, refMod: Int = 10,
      maxPerLang: Int = LmCalibMaxPerLang, idCol: String = "doc_id",
      langCol: String = "lang"): DataFrame = {
    val slice = corpus.filter(col(idCol) % refMod === 0)
    val picked = GraftExtensions.register(slice)
      .select(col(langCol).as("lang"),
        col(idCol).cast("bigint").as("did"),
        expr(h56(s"concat('lmcal|', cast($idCol as string))")).as("pri"))
      .groupBy("lang")
      .agg(graft.functions.MinKAgg.udf(maxPerLang)(
        col("pri"), col("did")).as("mins"))
      .select(posexplode(col("mins")).as(Seq("i", "pv")))
      .select(col("pv._2").as("did"))
    slice.join(picked, col(idCol) === col("did"), "left_semi")
  }

  /** Calibrate PER-LANGUAGE CCNet tercile cuts against the stored
    * per-language LM and freeze them — [[buildLmPartitioner]] with one
    * cut pair PER LANGUAGE (k-th smallest (fluency, doc_id) within each
    * language, k = ceil(n_l/3), ceil(2·n_l/3)), so minority languages
    * get their own bar instead of the majority's. The rank window is
    * partitioned by language over the CALIBRATION SLICE only — the
    * `refMod` sample ABSOLUTE-BOUNDED at `maxPerLang` docs per language
    * ([[lmCalibSlice]]: MinKAgg bottom-k by a salted id hash), so both
    * the scoring pass and the window's largest partition are bounded by
    * the cap, never a corpus fraction (the offline-calibration budget;
    * the apply pass below is window-free). Cut tuples are exact scored
    * rows, bit-identical cross-engine; a cap above the slice size leaves
    * them byte-identical to the uncapped build.
    */
  def buildLmPartitionerByLang(corpus: DataFrame, modelDir: String,
      dir: String, refMod: Int = 10, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang",
      maxPerLang: Int = LmCalibMaxPerLang): Unit = {
    val ref = fluencyStoredByLang(
        lmCalibSlice(corpus, refMod, maxPerLang, idCol, langCol), modelDir,
        idCol, textCol, langCol)
      .select(col("doc_id"), col("lang"), col("fluency"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    require(ref.limit(1).count() > 0,
      s"empty calibration slice ($idCol % $refMod)")
    val w = Window.partitionBy("lang").orderBy(col("fluency"), col("doc_id"))
    val cnts = ref.groupBy("lang").agg(count(lit(1)).as("cnt"))
    val cuts = ref.withColumn("rnk", row_number().over(w).cast("bigint"))
      .join(broadcast(cnts), Seq("lang"))
      .withColumn("k1", expr("(cnt + 2) div 3"))
      .withColumn("k2", expr("(2 * cnt + 2) div 3"))
      .filter(col("rnk") === col("k1") || col("rnk") === col("k2"))
      .groupBy("lang")
      .agg(
        max(when(col("rnk") === col("k1"),
          struct(col("fluency"), col("doc_id")))).as("c1"),
        max(when(col("rnk") === col("k2"),
          struct(col("fluency"), col("doc_id")))).as("c2"))
      .select(col("lang"), col("c1.fluency").as("f1"), col("c1.doc_id").as("d1"),
        col("c2.fluency").as("f2"), col("c2.doc_id").as("d2"))
    graft.cdc.Compaction.swapDir(dir) { tmp =>
      cuts.coalesce(1).write.mode("overwrite").parquet(s"$tmp/cuts")
    }
    ref.unpersist()
  }

  /** Apply the per-language partitioner: every document scores under
    * its own language's stored LM and lands in head/middle/tail by ITS
    * LANGUAGE's frozen cuts. One probe pass; the cuts table (one row per
    * language — artifact-sized) joins by language under an explicit
    * broadcast; the bucket CASE is the same (fluency, doc_id) row-value
    * comparison as [[lmPartition]], struct-compared in-row. Corpus-wide
    * scoring visits every (lang, wb) directory by construction, so no
    * footprint job runs and no broadcast hint applies to the model scan
    * (the [[lmPartition]] rationale). No window, no global sort.
    */
  def lmPartitionByLang(corpus: DataFrame, modelDir: String,
      cutsDir: String, idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val spark = corpus.sparkSession
    val bg = docBigramsLang(corpus, idCol, textCol, langCol)
    val model = readStored(spark, s"$modelDir/bigrams")
    val matched = model.join(bg, Seq("lang", "w1", "w2"))
      .select(col("doc_id"), col("lang"),
        (col("n").cast("double") *
          (col("c2").cast("double") / col("c1").cast("double"))).as("v"),
        lit(0L).as("nn"))
    val mass = corpus.select(col(idCol).as("doc_id"),
        col(langCol).as("lang"), col(textCol).as("text"))
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"), lit(null).cast("double").as("v"),
        (size(col("t")) - 1).cast("bigint").as("nn"))
    val scored = matched.unionByName(mass)
      .groupBy("doc_id", "lang")
      .agg(sum(col("nn")).as("n_bigrams"),
        expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (a, x) -> a + x)")
          .as("f_sum"))
      .select(col("doc_id"), col("lang"),
        (col("f_sum") / col("n_bigrams").cast("double")).as("fluency"))
    val cuts = readStored(spark, s"$cutsDir/cuts")
    // LEFT join — the cut-less-language contract: a language present in
    // the corpus but absent from the calibration slice (tiny minority +
    // a sparse refMod slice — precisely who this feature protects) gets
    // NO cuts row; an inner join would silently drop every one of its
    // documents. Such languages route whole to 'head' (the keep bucket
    // under [[lmPartitionApply]]'s selection rule — the conservative
    // default: an uncalibrated language is retained, never dropped),
    // stated explicitly rather than through null-comparison fallthrough.
    scored.join(broadcast(cuts), Seq("lang"), "left_outer")
      .select(col("doc_id"), col("lang"), col("fluency"),
        when(col("f1").isNull, lit("head"))
          .when(struct(col("fluency"), col("doc_id")) <=
            struct(col("f1").as("fluency"), col("d1").as("doc_id")),
          lit("tail"))
          .when(struct(col("fluency"), col("doc_id")) <=
            struct(col("f2").as("fluency"), col("d2").as("doc_id")),
            lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  def keywords(corpus: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // ONE occurrence-level pass, then everything derives from the
    // per-doc-distinct (doc_id, tok, tf) aggregate: df is a row count per
    // token (tf rows are distinct by construction — no occurrence-level
    // distinct). Deliberately NOT persisted — the tokenFreqScore
    // discipline: both consumers share the exchange via ReusedExchange,
    // and materializing the token-string table to block storage costs
    // more than the shared scan it would save (measured 1.0 → 0.75 s).
    val tf = textCorpus(corpus, idCol, textCol)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // N from the narrow corpus scan, not a distinct over the token table:
    // a non-null text always explodes to ≥1 token (split('', ' ') = ['']),
    // so distinct-doc-over-tokens ≡ distinct non-null-text docs — counted
    // here without dragging the (doc, tok) frame through another exchange
    val nDocs = textCorpus(corpus, idCol, textCol)
      .filter(col("text").isNotNull).select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("doc_id", "rnk", "tok", "tf", "df", "score")
  }

  // ------------------------------------------------ stored IDF model

  /** Token-bucket count for the stored IDF table (directory-partition
    * granularity — the probe's prune unit).
    */
  val IdfBuckets = 64

  /** The salted token-bucket expression shared by builder and probe —
    * one definition so the probe's partition filter can never drift off
    * the builder's layout.
    */
  def idfTb(tokExpr: String): String =
    s"${h56(s"concat('idf|', $tokExpr)")} % $IdfBuckets"

  /** Freeze the corpus document-frequency table under `dir` — the stored
    * artifact of production TF-IDF: corpus statistics (df per token, the
    * doc count N) are derived ONCE over the training corpus and every
    * later batch scores against them ([[keywordsStored]]), instead of
    * re-aggregating a 100 TB corpus per run. One `df/` table of
    * (tok, df, n_docs), hash-clustered into [[IdfBuckets]] `tb` bucket
    * directories so a batch probe opens only its own token buckets;
    * `n_docs` is denormalized into every row (the stored-LM discipline —
    * joins against a one-value table cost more than 8 bytes/row).
    *
    * Rebuild-only, like the bigram LM: df counts and N must come from
    * the SAME corpus generation or scores silently mix denominators, so
    * there is deliberately no append — a new corpus generation rebuilds
    * through the same atomic swap.
    */
  def buildIdfModel(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    graft.cdc.Compaction.swapDir(s"$dir/df") { tmp =>
      val base = textCorpus(corpus, idCol, textCol).filter(col("text").isNotNull)
      val tf = base
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nDocs = base.select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_docs"))
      dfreq.crossJoin(broadcast(nDocs))
        .withColumn("tb", expr(idfTb("tok")))
        .repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(tmp)
    }

  /** Top-k keywords for a batch against the STORED IDF model — the
    * production form of [[keywords]]: the batch derives its (doc, tok,
    * tf) frame in one pass, its bounded token-bucket footprint (≤
    * [[IdfBuckets]] values, one single-row aggregate job — the
    * stored-probe footprint discipline) pins a STATIC partition filter
    * on the `df/` scan, and the scored join streams the model while the
    * BATCH side broadcasts — the model is never a broadcast build side
    * (the PlanQualitySpec rule: corpus-vocabulary-sized artifacts don't
    * broadcast). Contract: a token the frozen model never saw cannot be
    * ranked (inner join) — a frozen scorer has no df for it; rebuild the
    * model to rank new vocabulary. Returned frame is lazy; the batch tf
    * cache backs it ([[curateDelta]]'s lazy-return contract).
    */
  def keywordsStored(batch: DataFrame, dir: String, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = batch.sparkSession
    val tf = textCorpus(batch, idCol, textCol).filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the probe's ONE eager job: the batch's token-bucket footprint AND
    // its row count as a single collected row — bounded by IdfBuckets
    // plus one long, never batch-sized. The count size-gates the
    // broadcast hint below (the mhFpAgg/qclfFpAgg fused discipline): a
    // corpus-sized backfill batch must degrade to a shuffle join under
    // AQE instead of dying on the driver's broadcast cap.
    val fpRow = tf
      .agg(collect_set(expr(idfTb("tok"))).as("tbs"), count(lit(1)).as("n"))
      .head
    val model = pinPartitions(readStored(spark, s"$dir/df"),
      "tb" -> fpRow.getSeq[Long](fpRow.fieldIndex("tbs")))
    val scored = model.join(gateBroadcast(tf, fpCount(fpRow, "n")), "tok")
      .withColumn("score",
        col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("doc_id", "rnk", "tok", "tf", "df", "score")
  }

  /** Health gauge over the stored IDF table — per tb bucket: vocabulary
    * size, the hottest df (a stopword-shaped token), and total rows.
    * The numbers an operator checks after a rebuild: bucket skew flags a
    * degenerate tokenizer, and max_df ≈ n_docs in every bucket means the
    * corpus needs a stopword pass before the model is useful.
    */
  def idfModelStats(spark: SparkSession, dir: String): DataFrame =
    readStored(spark, s"$dir/df")
      .groupBy(col("tb").cast("bigint").as("tb"))
      .agg(count(lit(1)).as("n_toks"),
        max(col("df")).as("max_df"),
        sum(col("df")).cast("bigint").as("df_rows"))

  // ------------------------------------------ per-language stored IDF

  /** PER-LANGUAGE stored IDF — [[buildIdfModel]] with the document
    * frequencies keyed by language: df per (lang, tok), doc count N per
    * LANGUAGE, one `df/` table partitioned (lang, tb). The
    * [[buildFluencyModelByLang]] minority-fairness argument applied to
    * the last global-only frozen-statistics artifact: under POOLED df a
    * minority language's own stopwords look globally rare (few absolute
    * documents contain them) and rank as "distinctive" keywords for
    * every one of its documents, drowning the genuinely document-
    * specific terms; per-language df restores Zipf's head where the
    * document actually lives. Rebuild-only through the same atomic swap
    * (per-language denominators make merging wrong the same way the
    * global N does). The df derivation explodes the in-row
    * [[docTokens]] RLE — presence per (doc, tok) is distinct by
    * construction, so NO (doc, tok) groupBy shuffle precedes the
    * (lang, tok) count.
    */
  def buildIdfModelByLang(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): Unit =
    graft.cdc.Compaction.swapDir(s"$dir/df") { tmp =>
      val base = GraftExtensions.register(corpus)
        .select(col(idCol).as("doc_id"), col(textCol).as("text"),
          col(langCol).as("lang"))
        .filter(col("text").isNotNull)
      val dfreq = base
        .select(col("lang"), explode(expr("token_rle(text)")).as("tk"))
        .groupBy(col("lang"), col("tk.tok").as("tok"))
        .agg(count(lit(1)).as("df"))
      val nDocs = base.groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      dfreq.join(broadcast(nDocs), Seq("lang"))
        .withColumn("tb", expr(idfTb("tok")))
        .repartition(col("lang"), col("tb"))
        .write.mode("overwrite").partitionBy("lang", "tb").parquet(tmp)
    }

  /** Top-k keywords for a batch against the stored PER-LANGUAGE IDF —
    * each document's terms weigh against ITS language's df/N: the
    * batch's bounded (lang, tb) footprint plus its row count collect as
    * ONE single-row job (the [[qualityScoreStoredByLang]] shape), the
    * footprint pins a static partition filter on the `df/` scan, the
    * scored join keys on (lang, tok) with the batch side
    * size-gate-broadcast — the artifact streamed, pruned, never a
    * broadcast build side. The batch tf frame is the in-row
    * [[docTokens]] RLE (no reduce shuffle) and backs the lazy return
    * (the [[keywordsStored]] cache contract). Same frozen-vocabulary
    * contract: a (lang, tok) the model never saw cannot be ranked.
    */
  def keywordsStoredByLang(batch: DataFrame, dir: String, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val spark = batch.sparkSession
    val base = GraftExtensions.register(batch)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"),
        col(langCol).as("lang"))
      .filter(col("text").isNotNull)
    val tf = base
      .select(col("doc_id"), col("lang"),
        explode(expr("token_rle(text)")).as("tk"))
      .select(col("doc_id"), col("lang"),
        col("tk.tok").as("tok"), col("tk.tf").as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fpRow = tf
      .agg(collect_set(struct(col("lang"),
          expr(idfTb("tok")).as("tb"))).as("pairs"),
        count(lit(1)).as("n"))
      .head
    val pairs = Option(fpRow.getSeq[org.apache.spark.sql.Row](
        fpRow.fieldIndex("pairs"))).getOrElse(Seq.empty)
      .map(r => (r.getString(0), r.getLong(1)))
    // the scored join is exact on (lang, tok), so the cross-product pin
    // is pure pruning
    val model = pinPartitions(readStored(spark, s"$dir/df"),
      "lang" -> pairs.map(_._1), "tb" -> pairs.map(_._2))
    val scored = model
      .join(gateBroadcast(tf, fpCount(fpRow, "n")), Seq("lang", "tok"))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("doc_id", "lang", "rnk", "tok", "tf", "df", "score")
  }

  /** [[idfModelStats]] grouped by language — the per-language health
    * read ([[lmStatsLang]]'s IDF twin): a collapsed minority-language
    * df table (a handful of rows, max_df ≈ its n_docs everywhere)
    * reads as its own row instead of averaging into the global gauge.
    * One combinable groupBy on the partition columns; maintenance-
    * cadence, never in the probe path.
    */
  def idfModelStatsByLang(spark: SparkSession, dir: String): DataFrame =
    readStored(spark, s"$dir/df")
      .groupBy(col("lang"), col("tb").cast("bigint").as("tb"))
      .agg(count(lit(1)).as("n_toks"),
        max(col("df")).as("max_df"),
        sum(col("df")).cast("bigint").as("df_rows"))

  // ------------------------------------------ stored quality classifier

  /** Token-bucket count for the stored classifier weight table (the
    * probe's directory-prune unit, the [[IdfBuckets]] convention).
    */
  val QclfBuckets = 64

  /** The salted token-bucket expression shared by builder and probe —
    * one definition so the probe's partition filter can never drift off
    * the builder's layout (the [[idfTb]] discipline; distinct salt so
    * the two artifacts' bucket layouts are independent).
    */
  def qclfTb(tokExpr: String): String =
    s"${h56(s"concat('qclf|', $tokExpr)")} % $QclfBuckets"

  private def qclfBase(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    textCorpus(corpus, idCol, textCol).filter(col("text").isNotNull)

  /** Harness fixture for the classifier queries: the synthetic corpus
    * passes the heuristic gate wholesale (labels would be one-class and
    * the trained table degenerate), so — the `llm_scrub_pii` injection
    * precedent — every 5th doc gains a JUNK twin under a disjoint id
    * range: twelve copies of a two-letter token, which passes the
    * length gate but fails the token-length band and the trigram
    * repetition cut. Both label classes are populated, the junk
    * vocabulary is class-pure, and the confusion gauge measures a real
    * discrimination.
    */
  def qclfCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 85000000L).as("doc_id"),
          lit("zq zq zq zq zq zq zq zq zq zq zq zq").as("text")))

  val QclfCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 85000000, 'zq zq zq zq zq zq zq zq zq zq zq zq'
      |FROM documents WHERE doc_id % 5 = 0""".stripMargin

  /** The classifier's training aggregate: per token, its occurrence
    * count inside heuristic-KEPT docs (`c_pos`) vs dropped docs
    * (`c_neg`), with the class totals and vocabulary size denormalized
    * into every row (the [[buildIdfModel]] n_docs rationale). Labels are
    * the [[TextAnalysis.qualityFilter]] keep decision derived IN-ROW
    * alongside the text ([[TextAnalysis.qualityFlags]]) — the
    * distillation regime a production pipeline bootstraps a learned
    * quality gate from (CCNet trains against a trusted-corpus signal;
    * here the trusted signal is the published heuristic gate): the
    * heuristic is rule-priced per doc, the trained scorer generalizes
    * its decision to a per-TOKEN likelihood table that transfers to
    * batches the rules were never tuned on.
    *
    * 100 TB shape: label derivation is a scan-stage projection (no
    * corpus join), the occurrence explode feeds ONE token-key reduce
    * (map-side partial aggregation collapses each partition to its
    * distinct-token footprint before the shuffle), and the totals ride
    * a single-row aggregate broadcast back over the counts — nothing
    * driver-sized anywhere.
    */
  def qclfCounts(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lab = TextAnalysis.qualityFlags(qclfBase(corpus, idCol, textCol))
      .select(col("keep"), explode(split(col("text"), " ")).as("tok"))
    val cnt = lab.groupBy("tok")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("c_neg"))
    val tot = cnt.agg(sum(col("c_pos")).as("t_pos"),
      sum(col("c_neg")).as("t_neg"), count(lit(1)).as("vv"))
    cnt.crossJoin(broadcast(tot))
  }

  /** Freeze the trained quality classifier under `dir` — the learned
    * counterpart of the heuristic gate: one `w/` table of (tok, c_pos,
    * c_neg, t_pos, t_neg, vv), hash-clustered into [[QclfBuckets]] `tb`
    * directories so a probe opens only its batch's token buckets.
    * Laplace smoothing happens at SCORE time from the stored integers
    * (the stored-LM "probabilities stay exact" rule: the artifact
    * carries counts, never derived floats, so arithmetic lives in one
    * place and cross-engine determinism is the scorer's problem alone).
    *
    * Rebuild-only, like the bigram LM and the IDF table: every count
    * shares the class totals as denominators, so merging two
    * generations' counts would silently mix denominators — the model is
    * retrained per corpus generation through the same atomic
    * [[graft.cdc.Compaction.swapDir]] (old generation serves readers
    * throughout, every crash window rolls back).
    */
  def buildQualityClassifier(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    graft.cdc.Compaction.swapDir(s"$dir/w") { tmp =>
      qclfCounts(corpus, idCol, textCol)
        .withColumn("tb", expr(qclfTb("tok")))
        .repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(tmp)
    }

  /** The scorer shared by [[qualityClassify]] and [[qualityScoreStored]]:
    * per matched DISTINCT (doc, token), the Laplace-smoothed
    * class-conditional likelihood ratio r = P(tok|keep)/P(tok|drop) =
    * ((c_pos+1)·(t_neg+V)) / ((c_neg+1)·(t_pos+V)) — a ratio of exact
    * integers lifted to double only for the final products (BIGINT
    * products would overflow at corpus scale; the two double
    * multiplications and one division are single IEEE operations, exact
    * across engines) — weighted by the token's in-doc frequency in ONE
    * further multiply (v = tf · r), and the doc's score the mean over
    * its token OCCURRENCES via the [[fluencyScore]] value-sorted fold.
    * The probe side arrives reduced to (doc, tok, tf) by the in-row
    * [[docTokens]] RLE — the [[fluencyScore]] (doc, w1, w2, n)
    * discipline: the weights join and the per-doc fold pay per distinct
    * doc-token, never per occurrence (the round-10 tokenFreqScore
    * regression this family had re-grown on its scoring side). No
    * ln()/exp(): the mean-ratio score is a monotone per-token transform
    * of the Naive Bayes evidence that stays inside exactly-reproducible
    * arithmetic (the [[keywords]] rational-idf rationale — libm
    * transcendentals differ across engines and would break hashes).
    * Unmatched (out-of-vocabulary) tokens contribute 0 through the
    * matched-only union — the [[fluencyStored]] semantics: a token the
    * reference corpus never produced is evidence of neither class, and
    * an all-unseen doc scores 0 (below any sane τ), which is the
    * conservative gate decision for alien text. `toks` arrives with the
    * caller's broadcast decision already applied ([[gateBroadcast]]).
    */
  private def qclfScore(toks: DataFrame, mass: DataFrame,
      weights: DataFrame, tau: Double): DataFrame = {
    val matched = weights.join(toks, "tok")
      .select(col("doc_id"),
        (col("tf").cast("double") *
          (((col("c_pos") + 1).cast("double") *
            (col("t_neg") + col("vv")).cast("double")) /
            ((col("c_neg") + 1).cast("double") *
              (col("t_pos") + col("vv")).cast("double")))).as("v"),
        lit(0L).as("nn"))
    matched.unionByName(mass)
      .groupBy("doc_id")
      .agg(sum(col("nn")).as("n_toks"),
        expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (a, x) -> a + x)")
          .as("r_sum"))
      .select(col("doc_id"), col("n_toks"),
        (col("r_sum") / col("n_toks").cast("double")).as("q_score"))
      .withColumn("pred", col("q_score") >= tau)
  }

  /** Corpus-as-its-own-model classification — the in-query special case
    * ([[fluencyScore]]'s relationship to [[fluencyStored]]): train the
    * token table on `corpus`, score every doc of `corpus` against it.
    * Self-coverage is total (every token is in its own vocabulary), so
    * the stored probe of a slice of the training corpus is bit-identical
    * to this form restricted to the slice — the equivalence the spec and
    * the shared oracle state. τ = 1.0 is the natural decision bar for a
    * likelihood RATIO (mean ratio > 1 ⇔ the doc's tokens lean toward the
    * keep class).
    *
    * Perf: scoring joins weights per DISTINCT (doc, tok) with the tf
    * folded in (the in-row [[docTokens]] RLE — the tokenFreqScore
    * discipline), not per token occurrence. Measured quiet at sf0.1
    * (REPS=7, sentinel disp ≤ 1.45): 1.33-1.36 s vs the per-occurrence
    * form's 1.65 s — inside 2× of the DuckDB oracle (0.70 s quiet); the
    * stored probe ([[qualityScoreStored]], ~0.8 s) remains the serving
    * path.
    */
  def qualityClassify(corpus: DataFrame, tau: Double = 1.0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = qclfBase(corpus, idCol, textCol)
    val mass = base.select(col("doc_id"),
      lit(null).cast("double").as("v"),
      size(split(col("text"), " ")).cast("bigint").as("nn"))
    qclfScore(docTokens(base), mass, qclfCounts(corpus, idCol, textCol), tau)
  }

  /** The probe's one-row eager payload over `docs`: total token count
    * (the broadcast size gate) and the distinct token-bucket footprint
    * (≤ [[QclfBuckets]] values) — the [[lmFpAgg]] shape: per-doc bucket
    * sets dedup inside the row, partial aggregation bounds the merge
    * buffer at 64 values, only a row's pos-0 bucket carries its doc's
    * token count so the sum counts each doc once. Field names are
    * qc-prefixed so the row can crossJoin into an orchestrator's fused
    * footprint job alongside [[lmFpAgg]]'s (toks, buckets) without a
    * name collision. (The batch funnel and the nightly delta now run
    * the scorer in its footprint-less churn-scale form — this aggregate
    * serves the micro-batch probe path.)
    */
  def qclfFpAgg(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    qclfBase(docs, idCol, textCol)
      .select(size(split(col("text"), " ")).cast("bigint").as("k"),
        // the lambda restates [[qclfTb]] over the split's tokens — keep
        // the two in lockstep (the lmFpAgg comment's rationale)
        expr(s"array_distinct(transform(split(text, ' '), w -> ${h56("concat('qclf|', w)")} % $QclfBuckets))").as("bs"))
      .select(col("k"), posexplode(col("bs")).as(Seq("p", "b")))
      .agg(sum(when(col("p") === 0, col("k"))).as("qc_toks"),
        collect_set(col("b")).as("qc_buckets"))

  /** Score a batch against a STORED [[buildQualityClassifier]] artifact —
    * the production form: the model is never re-derived, the batch's
    * bounded token-bucket footprint (ONE single-row eager job,
    * [[qclfFpAgg]]) pins a static partition filter on the weight scan,
    * and the batch side carries a size-gated broadcast hint
    * ([[GateBroadcastMaxRows]]) so an ingest micro-batch streams the
    * pruned weight directories with no model-side shuffle while a
    * corpus-sized backfill drops the hint and AQE decides — the
    * vocabulary-sized artifact is never a broadcast build side (the
    * [[keywordsStored]] PlanQualitySpec rule). Probe cost tracks model
    * size and batch footprint, never the corpus the model was trained
    * on.
    *
    * `footprint = false` is the CHURN-SCALE form ([[curateDelta]]'s clf
    * gate): a nightly delta's token-bucket footprint saturates all
    * [[QclfBuckets]] directories, so the eager footprint job would pay a
    * driver barrier to prune nothing and the broadcast gate would always
    * read "big" — skip both (weights scan unfiltered, no hint, AQE picks
    * the join from runtime sizes) and the whole scoring chain stays LAZY,
    * free to materialize inside a caller's existing fused barrier.
    * Scores are identical either way: the inner join drops weight rows
    * the batch's tokens never touch, so pruning only ever removes
    * non-matching rows.
    */
  def qualityScoreStored(batch: DataFrame, dir: String, tau: Double = 1.0,
      idCol: String = "doc_id", textCol: String = "text",
      fpRow: Option[org.apache.spark.sql.Row] = None,
      footprint: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val base = qclfBase(batch, idCol, textCol)
    val weightsRaw = readStored(spark, s"$dir/w")
    val toks = docTokens(base)
    val (weights, probe) =
      if (!footprint) (weightsRaw, toks)
      else {
        // an orchestrator that already fused this aggregate into its own
        // eager job passes the row in — name-based field access, the
        // [[fluencyStored]] contract
        val fp = fpRow.getOrElse(qclfFpAgg(batch, idCol, textCol).collect()(0))
        (pinPartitions(weightsRaw, "tb" ->
            Option(fp.getSeq[Long](fp.fieldIndex("qc_buckets"))).getOrElse(Seq.empty)),
          gateBroadcast(toks, fpCount(fp, "qc_toks")))
      }
    val mass = base.select(col("doc_id"),
      lit(null).cast("double").as("v"),
      size(split(col("text"), " ")).cast("bigint").as("nn"))
    qclfScore(probe, mass, weights, tau)
  }

  /** Health gauge over the stored classifier — per tb bucket: vocabulary
    * size and the two classes' occurrence mass. What an operator checks
    * after a retrain: bucket skew flags a degenerate tokenizer (the
    * [[idfModelStats]] reading), and a pos/neg mass ratio far from the
    * corpus' keep rate means the label pass drifted.
    */
  def qclfStats(spark: SparkSession, dir: String): DataFrame =
    readStored(spark, s"$dir/w")
      .groupBy(col("tb").cast("bigint").as("tb"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("c_pos")).cast("bigint").as("pos_occ"),
        sum(col("c_neg")).cast("bigint").as("neg_occ"))

  /** Distillation-fidelity gauge: the confusion counts of the trained
    * scorer's τ decision against the heuristic gate it was trained from,
    * over the training corpus — the number that says whether the learned
    * table is a faithful stand-in before it gates anything real.
    * (keep, pred) → doc count; off-diagonal mass is the distillation
    * gap. One label pass plus the classify plan — both scan-shaped, the
    * join keyed on doc_id only.
    */
  def qclfAgreement(corpus: DataFrame, tau: Double = 1.0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the label frame joins back by doc_id — DELIBERATELY: two measured
    // alternatives that thread `keep` through the scoring chain itself
    // both lose (same quiet window, interleaved A/B medians): flags on
    // the occurrence frame re-evaluate the trigram-shingle arrays per
    // occurrence (1.26 → 1.52 s), and flags on the mass rows alone force
    // the per-doc fold to carry a nullable keep through the union and a
    // max() recovery (join 1.55 vs fold-carried 1.79 s). The labels join
    // ships (doc_id, boolean) against (doc_id, score) — cheap — while
    // the scoring aggregate stays the lean shared shape.
    val labels = TextAnalysis.qualityFilter(qclfBase(corpus, idCol, textCol))
      .select(col("doc_id"), col("keep"))
    qualityClassify(corpus, tau, idCol, textCol)
      .join(labels, "doc_id")
      .groupBy(col("keep"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  // --------------------------- per-language stored quality classifier

  /** [[qclfCorpus]] with the language label carried — junk twins inherit
    * their base doc's language, so every language populates both label
    * classes and the per-language tables train on real discriminations.
    */
  def qclfCorpusLang(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), col("lang")).unionByName(
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 85000000L).as("doc_id"),
          lit("zq zq zq zq zq zq zq zq zq zq zq zq").as("text"),
          col("lang")))

  val QclfCorpusLangSql: String =
    """SELECT doc_id, text, lang FROM documents
      |UNION ALL
      |SELECT doc_id + 85000000, 'zq zq zq zq zq zq zq zq zq zq zq zq', lang
      |FROM documents WHERE doc_id % 5 = 0""".stripMargin

  /** PER-LANGUAGE trained quality classifier —
    * [[buildQualityClassifier]] with every count keyed by language:
    * token counts per (lang, tok), class totals and vocabulary size per
    * LANGUAGE (the likelihood ratios normalize within each language's
    * own token distribution — the same minority-language fairness
    * argument as [[buildFluencyModelByLang]]: under a global table a
    * minority language's tokens are judged against the majority's class
    * mass). One `w/` table partitioned by (lang, tb); same rebuild-only
    * atomic-swap generation discipline (per-language denominators make
    * merging wrong in the same way).
    */
  def buildQualityClassifierByLang(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): Unit =
    graft.cdc.Compaction.swapDir(s"$dir/w") { tmp =>
      val base = GraftExtensions.register(corpus).select(col(idCol).as("doc_id"),
          col(textCol).as("text"), col(langCol).as("lang"))
        .filter(col("text").isNotNull)
      val keep = TextAnalysis.qualityFilter(base)
        .filter(col("keep")).select("doc_id")
      val lab = base
        .join(keep.withColumn("k", lit(true)), Seq("doc_id"), "left_outer")
        .select(col("lang"), coalesce(col("k"), lit(false)).as("keep"),
          explode(split(col("text"), " ")).as("tok"))
      val cnt = lab.groupBy("lang", "tok")
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("c_pos"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("c_neg"))
      val tot = cnt.groupBy("lang").agg(sum(col("c_pos")).as("t_pos"),
        sum(col("c_neg")).as("t_neg"), count(lit(1)).as("vv"))
      cnt.join(broadcast(tot), Seq("lang"))
        .withColumn("tb", expr(qclfTb("tok")))
        .repartition(col("lang"), col("tb"))
        .write.mode("overwrite").partitionBy("lang", "tb").parquet(tmp)
    }

  /** Score a batch against the stored PER-LANGUAGE classifier — each
    * document's tokens weigh against ITS language's likelihood table:
    * the batch's bounded (lang, tb) footprint (ONE fused single-row
    * job with the token size gate, the [[fluencyStoredByLang]] shape)
    * pins a static partition filter on the weight scan, the ratio join
    * keys on (lang, tok) with the batch side size-gate-broadcast, and
    * out-of-vocabulary occurrences contribute 0 through the matched-only
    * union fold ([[qclfScore]]'s semantics, language-keyed). The
    * artifact is streamed, pruned, never a broadcast build side.
    */
  def qualityScoreStoredByLang(batch: DataFrame, dir: String,
      tau: Double = 1.0, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang"): DataFrame = {
    val spark = batch.sparkSession
    val base = GraftExtensions.register(batch).select(col(idCol).as("doc_id"),
        col(textCol).as("text"), col(langCol).as("lang"))
      .filter(col("text").isNotNull)
    // fused footprint: distinct (lang, tb) pairs (bucket sets dedup
    // in-row) + the batch token count for the broadcast size gate
    val fp = base
      .select(col("lang"),
        size(split(col("text"), " ")).cast("bigint").as("k"),
        expr(s"array_distinct(transform(split(text, ' '), w -> ${h56("concat('qclf|', w)")} % $QclfBuckets))").as("bs"))
      .select(col("lang"), col("k"), posexplode(col("bs")).as(Seq("p", "b")))
      .agg(sum(when(col("p") === 0, col("k"))).as("toks"),
        collect_set(struct(col("lang"), col("b"))).as("pairs"))
      .collect()(0)
    val pairs = Option(fp.getSeq[org.apache.spark.sql.Row](fp.fieldIndex("pairs")))
      .getOrElse(Seq.empty).map(r => (r.getString(0), r.getLong(1)))
    // the scoring join is exact on (lang, tok), so the cross-product
    // pin is pure pruning
    val weights = pinPartitions(readStored(spark, s"$dir/w"),
      "lang" -> pairs.map(_._1), "tb" -> pairs.map(_._2))
    // in-row (doc, tok, tf) reduction with the language label riding —
    // the [[docTokens]] discipline, language-keyed: join and fold pay
    // per distinct doc-token
    val toks = base
      .select(col("doc_id"), col("lang"),
        explode(expr("token_rle(text)")).as("tk"))
      .select(col("doc_id"), col("lang"),
        col("tk.tok").as("tok"), col("tk.tf").as("tf"))
    val matched = weights.join(gateBroadcast(toks, fpCount(fp, "toks")),
        Seq("lang", "tok"))
      .select(col("doc_id"), col("lang"),
        (col("tf").cast("double") *
          (((col("c_pos") + 1).cast("double") *
            (col("t_neg") + col("vv")).cast("double")) /
            ((col("c_neg") + 1).cast("double") *
              (col("t_pos") + col("vv")).cast("double")))).as("v"),
        lit(0L).as("nn"))
    val mass = base.select(col("doc_id"), col("lang"),
      lit(null).cast("double").as("v"),
      size(split(col("text"), " ")).cast("bigint").as("nn"))
    matched.unionByName(mass)
      .groupBy("doc_id", "lang")
      .agg(sum(col("nn")).as("n_toks"),
        expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (a, x) -> a + x)")
          .as("r_sum"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        (col("r_sum") / col("n_toks").cast("double")).as("q_score"))
      .withColumn("pred", col("q_score") >= tau)
  }

  // ------------------------------------------------- deterministic sample

  /** Reproducible uniform corpus sample: rank every doc by the 56-bit md5
    * priority of its id (salted so the sample is independent of
    * [[graft.llm.TextAnalysis.trainValSplit]]'s buckets) and keep the
    * lowest `n`. No RNG — the same sample comes back on any engine,
    * cluster size, or run, which is what a reproducible training-set
    * build needs. Top-k by hash plans as TakeOrdered: no global sort, the
    * per-partition heaps carry only n rows at 100 TB.
    */
  def sampleByHash(corpus: DataFrame, n: Int,
      idCol: String = "doc_id"): DataFrame =
    GraftExtensions.register(corpus).withColumn("pri",
        expr(h56(s"concat('sample|', cast($idCol as string))")))
      .orderBy(col("pri"), col(idCol))
      .limit(n)

  /** Stratified reproducible sample: the `perStratum` lowest hash
    * priorities within each stratum (source, language, …) — the balanced-
    * mixture builder a multi-source training set needs, where a uniform
    * global sample would mirror the corpus' source skew instead of
    * correcting it. Same salted-hash priority as [[sampleByHash]], so both
    * samplers agree doc-by-doc and across engines.
    *
    * Scale: a stratum-wide rank window shuffles EVERY row of a stratum
    * onto one partition — with few huge strata that is the classic
    * low-cardinality window skew, so NO branch plans one. Whenever the
    * quota fits a heap (`perStratum ≤ heapMaxK`), the bounded-buffer
    * [[graft.functions.MinKAgg]] runs: per-stratum heaps combine
    * map-side, nothing larger than perStratum crosses the wire, and the
    * biggest stratum costs the same as the smallest — integral ids ride
    * in the heap directly, string/decimal ids ride as a second salted
    * 56-bit hash and join back (see the branch comment). Past the
    * threshold the bucketed two-level rank runs ([[domainMix]]'s
    * fallback scheme): in-bucket row_number plus per-bucket count
    * offsets, never a stratum-wide per-doc window. Absent hash
    * collisions the three branches are output-identical row-for-row
    * (same (pri, id) ascending order, same ranks — proven by the
    * equivalence specs); the string-id heap branch breaks pri ties by
    * the salted id hash `hkey` where the rank branch breaks them by the
    * raw id, so a pri+hkey DOUBLE collision (the 2⁻¹¹²-class event the
    * branch comment accepts) could order a tie pair differently or
    * duplicate a rank in the join-back — the same accepted-risk class
    * as the dedup family's 56-bit fingerprints. `heapMaxK = 0` forces
    * the two-level-rank path.
    *
    * Contract: rows with a NULL id are dropped up-front, on BOTH paths —
    * the heap path binds (pri, id) into a primitive (Long, Long)
    * aggregator that cannot carry nulls, and a null sampling priority is
    * meaningless anyway; filtering consistently keeps the two paths
    * output-identical on nullable id columns instead of crash-vs-include.
    */
  def sampleStratified(corpus: DataFrame, perStratum: Int,
      stratumCol: String = "source", idCol: String = "doc_id",
      heapMaxK: Int = SamplerHeapMaxK): DataFrame = {
    // both paths must agree on the degenerate quota: the window path
    // returns empty for perStratum <= 0, but MinKAgg would throw its
    // k > 0 require at plan time — fail identically, loudly, up front
    require(perStratum > 0, "perStratum must be positive")
    val docs = GraftExtensions.register(corpus).filter(col(idCol).isNotNull)
      .withColumn("pri",
        expr(h56(s"concat('sample|', cast($idCol as string))")))
    if (perStratum <= heapMaxK && isIntegralColumn(docs, idCol)) {
      val idType = docs.schema(idCol).dataType
      docs.groupBy(col(stratumCol))
        .agg(graft.functions.MinKAgg.udf(perStratum)(
          col("pri"), col(idCol).cast("bigint")).as("mins"))
        .select(col(stratumCol), posexplode(col("mins")).as(Seq("i", "pv")))
        .select(col(stratumCol), col("pv._2").cast(idType).as(idCol),
          col("pv._1").as("pri"), (col("i") + 1).cast("bigint").as("rnk"))
    } else if (perStratum <= heapMaxK) {
      // NON-INTEGRAL ids (string URLs/UUIDs — the common key shape of a
      // real web corpus) take the SAME bounded-heap path: the heap can't
      // carry the id itself, so it carries a second, independently
      // salted 56-bit id hash (`hkey`) as the payload and the ids join
      // back on (stratum, pri, hkey) afterwards — an equi-join on a
      // high-cardinality key (no skew; the selected side is bounded by
      // strata × perStratum). Rank ties under a 56-bit pri collision
      // break by hkey instead of the raw id — both hashes colliding at
      // once is the 2⁻¹¹²-class event the dedup family already accepts.
      // Before this branch existed, EVERY string-id call fell into the
      // stratum-wide rank window below regardless of quota.
      val keyed = docs.withColumn("hkey",
        expr(h56(s"concat('sampk|', cast($idCol as string))")))
      keyed.groupBy(col(stratumCol))
        .agg(graft.functions.MinKAgg.udf(perStratum)(
          col("pri"), col("hkey")).as("mins"))
        .select(col(stratumCol), posexplode(col("mins")).as(Seq("i", "pv")))
        .select(col(stratumCol), col("pv._1").as("pri"),
          col("pv._2").as("hkey"), (col("i") + 1).cast("bigint").as("rnk"))
        .join(keyed.select(col(stratumCol), col(idCol), col("pri"),
          col("hkey")), Seq(stratumCol, "pri", "hkey"))
        .select(col(stratumCol), col(idCol), col("pri"), col("rnk"))
    } else {
      // large-quota fallback: the per-stratum rank via the SAME bucketed
      // two-level scheme as [[domainMix]]/[[budgetCum]] — a plain
      // Window.partitionBy(stratum) would serialize a possibly
      // corpus-sized stratum onto one task (strata are LOW-cardinality
      // by construction: sources/languages number in the dozens,
      // documents in the billions). The hash priority's top
      // [[BudgetBucketBits]] bits form balanced pre-sorted range
      // buckets; row_number runs inside (stratum, bucket) — parallel —
      // and per-bucket COUNTS (strata × 64 one-row aggregates) take the
      // running offset that makes ranks global to the stratum. Bucket =
      // pri's top bits ⇒ cross-bucket order IS (pri, id) order, so the
      // stitched ranks equal the single-window form row-for-row
      // (equivalence spec'd). Nothing is persisted: the frame is a
      // narrow projection over the corpus scan, and rescanning it for
      // the tiny offsets aggregate is cheaper than writing a
      // corpus-sized cache (the domainMix pin-hygiene rule).
      val bdocs = docs
        .withColumn("bk", expr(s"pri div ${1L << (56 - BudgetBucketBits)}"))
      val wIn = Window.partitionBy(col(stratumCol), col("bk"))
        .orderBy(col("pri"), col(idCol))
      val wOff = Window.partitionBy(col(stratumCol)).orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bdocs.groupBy(col(stratumCol), col("bk"))
        .agg(count(lit(1)).as("n_b"))
        .withColumn("off", coalesce(sum("n_b").over(wOff), lit(0L)))
        .select(col(stratumCol), col("bk"), col("off"))
      bdocs.withColumn("rnk_in", row_number().over(wIn).cast("bigint"))
        .join(broadcast(offsets), Seq(stratumCol, "bk"))
        .withColumn("rnk", col("off") + col("rnk_in"))
        .filter(col("rnk") <= perStratum)
        .select(col(stratumCol), col(idCol), col("pri"), col("rnk"))
    }
  }

  /** Largest per-group quota the samplers serve from the bounded-buffer
    * [[graft.functions.MinKAgg]] path; beyond it (the heap no longer
    * amortizes against the shuffle it saves) they fall back to the rank
    * window. 64k entries ≈ 1 MiB per group buffer.
    */
  val SamplerHeapMaxK = 65536

  /** True when `c` is an integral column (the samplers' heap path carries
    * ids as longs; fractional/string ids keep the generic window path).
    */
  private def isIntegralColumn(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Corpus health dashboard in one pass — the numbers a data build
    * monitors between stages: volume (docs/tokens/chars), diversity
    * (distinct sources/langs), exact-dup mass (1 − unique content hashes /
    * docs), and token-length extremes. One multi-aggregate over the
    * corpus; the distinct counts are exact (each costs one expand-shuffle
    * on a narrow key — switch to approx_count_distinct at the monitoring
    * tier where ±2% is fine and one pass must serve dashboards).
    */
  def corpusStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sourceCol: String = "source",
      langCol: String = "lang"): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        col(sourceCol).as("source"), col(langCol).as("lang"))
      .withColumn("nt", size(split(col("text"), " ")).cast("bigint"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        sum(length(col("text")).cast("bigint")).as("n_chars"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text"))).as("n_unique_texts"),
        min("nt").as("min_tokens"),
        max("nt").as("max_tokens"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_unique_texts")).cast("double") / col("n_docs"))
      .withColumn("avg_tokens", col("n_tokens").cast("double") / col("n_docs"))

  // ------------------------------------------------------------- BPE

  /** Distinct words with corpus frequencies — BPE's working set. Words
    * via whitespace split (empties dropped), counts map-side-combinable;
    * at 100 TB the distinct-word table is the classic heavy-tail
    * aggregation, orders smaller than the corpus.
    */
  private def wordCounts(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    textCorpus(corpus, idCol, textCol)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Adjacent-symbol pair frequencies over the initial (character) BPE
    * state — the inner loop of BPE vocabulary training, run corpus-wide:
    * for every distinct word, every adjacent character pair, weighted by
    * the word's corpus frequency; top pairs by (freq desc, pair asc). The
    * first merge a BPE trainer would pick is row 1.
    *
    * Scale: pair explosion is per-distinct-word (heavy-tail bounded), the
    * count is a combinable groupBy on a 2-symbol key, and the top-k plans
    * as TakeOrdered. Characters via explicit substr (not the empty-regex
    * split, whose trailing-empty behavior is engine/version-dependent) so
    * the oracle mirrors symbol-for-symbol.
    */
  def bpePairs(corpus: DataFrame, topK: Int = 50, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    wordCounts(corpus, idCol, textCol)
      // single-char words carry no pairs; dropping them here also dodges
      // sequence(1, 0)'s descending-range surprise
      .filter(length(col("w")) > 1)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(w)-1), i -> struct(substr(w, i, 1) AS a, substr(w, i+1, 1) AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("sym_a"), col("p.b").as("sym_b"))
      .agg(sum("cnt").as("freq"))
      .orderBy(col("freq").desc, col("sym_a"), col("sym_b"))
      .limit(topK)
      .select("sym_a", "sym_b", "freq")

  /** One leftmost-greedy merge pass of pair (a,b) over a symbol array —
    * the ordered left-fold makes "no double consumption" structural: a
    * freshly merged symbol can only pair with the NEXT raw symbol, exactly
    * BPE's scan semantics ('a a a' + (a,a) → [aa, a], 'a a a a' → [aa, aa]).
    */
  private def mergeFold(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Distributed BPE vocabulary training (Sennrich et al. 2016): for
    * `nMerges` rounds, count adjacent-symbol pairs over the distinct-word
    * table (weighted by word frequency), merge the most frequent pair
    * (ties broken (a, b) ascending — fully deterministic), rewrite every
    * word's symbols with one leftmost-greedy fold pass. Returns the merge
    * table (rank, sym_a, sym_b, freq) — the trained tokenizer.
    *
    * Scale: the state is the distinct-word frame (never the corpus); each
    * round is one combinable pair-count agg + one argmax over it (the
    * single collected row per round is a driver scalar, like the CC
    * fixpoint's convergence count) + one narrow projection. Rounds are
    * inherently sequential (each merge depends on the last) — vocab
    * training is O(vocab) rounds by definition; state persists per round
    * with the previous generation released, the CC loop's cache
    * discipline.
    *
    * Lineage discipline (the [[dedupClusters]] rule, applied here): each
    * round's frame chains a [[mergeFold]] projection onto the previous
    * generation's `InMemoryRelation`, so at a real vocab size (thousands
    * of rounds) the plan tree grows without bound and any cache eviction
    * forces a whole-chain recompute. Every [[BpeTruncateEveryRounds]]
    * rounds the state is checkpointed instead of persisted — eager, so
    * the chain is cut and the frame is self-contained from then on.
    * `spark.graft.cc.checkpointDir` switches local checkpoints to
    * reliable ones, the same cluster-deployment knob the CC loop honors.
    * `truncateEvery` is a knob only so the equivalence spec can compare
    * truncated vs untruncated runs; outputs are identical by construction
    * (checkpointing materializes the same rows).
    */
  val BpeTruncateEveryRounds = 8

  /** Wall seconds of each merge round of the latest [[bpeTrain]] run —
    * the probe gauge for the lineage-truncation claim: flat per-round
    * time across a ≥128-merge vocab is the published evidence that the
    * checkpoint cadence holds as the merge count (the axis real tokenizer
    * training stresses) grows. Diagnostic only, like
    * [[lastClusterIterations]].
    */
  val lastBpeRoundSecs =
    new java.util.concurrent.atomic.AtomicReference[Seq[Double]](Seq.empty)

  def bpeTrain(corpus: DataFrame, nMerges: Int = 8, idCol: String = "doc_id",
      textCol: String = "text",
      truncateEvery: Int = BpeTruncateEveryRounds): DataFrame = {
    val spark = corpus.sparkSession
    val ckptDir = spark.conf.getOption("spark.graft.cc.checkpointDir")
    ckptDir.foreach(spark.sparkContext.setCheckpointDir)
    // checkpoint blocks are pinned at the RDD layer, OUTSIDE the SQL cache
    // manager — Dataset.unpersist and clearCache never release them, so
    // without explicit release every truncation's blocks stay in the block
    // manager until driver GC happens to collect the RDD object. Measured:
    // back-to-back bpeTrain calls in one session grew monotonically
    // (1.95 → 5.0 → 6.7 s) as dead checkpoint blocks crowded the store.
    // Track the RDD ids each truncation pins (read off the checkpointed
    // frame's own lineage — [[pinnedRddIds]] — so concurrent queries on a
    // shared session can't be misattributed) and free them as soon as the
    // NEXT truncation supersedes them; the function-exit sweep below
    // releases the final generation's blocks.
    var liveCkptIds: Set[Int] = Set.empty
    var allCkptIds: Set[Int] = Set.empty
    def truncate(df: DataFrame): DataFrame = {
      val out = if (ckptDir.isDefined) df.checkpoint() else df.localCheckpoint()
      val added = pinnedRddIds(out)
      liveCkptIds.foreach(id =>
        spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      liveCkptIds = added
      allCkptIds ++= added
      out
    }
    var state = wordCounts(corpus, idCol, textCol)
      .withColumn("syms", expr(
        "transform(sequence(1, length(w)), i -> substr(w, i, 1))"))
      .select("cnt", "syms")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // previous generation, released only after the NEXT round's argmax has
    // materialized the current one — the argmax action itself does the
    // materializing, so no extra count() job per round is needed
    var prev: Option[DataFrame] = None
    var r = 1
    var exhausted = false
    val roundSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (r <= nMerges && !exhausted) {
      val roundT0 = System.nanoTime()
      // zip_with over offset slices, not sequence(1, n-1): Spark's
      // sequence counts DOWN when start > stop, so a 1-symbol word would
      // fabricate indices [1, 0] instead of no pairs
      val best = state
        .select(col("cnt"), explode(expr(
          "zip_with(slice(syms, 1, size(syms)-1), slice(syms, 2, size(syms)-1), (a, b) -> struct(a, b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b"))
        .limit(1).collect()
      prev.foreach(_.unpersist()) // state is now cached; its parent can go
      prev = Some(state)
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, f) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, f))
        val gen = state.withColumn("syms", mergeFold(col("syms"), a, b))
        // periodic eager checkpoint truncates the merge-fold chain; other
        // generations persist (and are released once superseded, above)
        state = if (r % truncateEvery == 0) truncate(gen)
          else gen.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        r += 1
      }
      roundSecs += (System.nanoTime() - roundT0) / 1e9
    }
    lastBpeRoundSecs.set(roundSecs.toSeq)
    prev.foreach(_.unpersist())
    state.unpersist()
    // release every checkpoint this call pinned — the merge table is
    // already collected on the driver, so nothing downstream reads them
    allCkptIds.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    import spark.implicits._
    merges.toSeq.toDF("rank", "sym_a", "sym_b", "freq")
  }

  /** Apply a trained merge table to text — BPE encoding: per word, start
    * from characters and repeatedly apply the applicable merge with the
    * LOWEST rank (one leftmost-greedy pass each) until none applies; per
    * doc, the resulting token count (the number a token-budgeted data
    * build actually needs). Per-row iterative logic — genuinely outside
    * SQL — so this is the documented typed-map extension point (the
    * [[Multimodal.decodeMediaBatch]] precedent): merge ranks broadcast
    * once, encoding embarrassingly parallel, no shuffle.
    */
  /** Per-partition word-encode memo cap: BPE encode is a pure function
    * of the word, and word frequency is Zipfian — the same few thousand
    * words dominate any natural corpus — so each task memoizes
    * word → token-count and the hot head encodes once per partition
    * instead of once per occurrence (the stored-tokenizer encode
    * llm_bpe_apply_idx: 0.8 → 0.29 s at sf0.1; llm_bpe_apply moves
    * little — its cost is the in-query 5%-slice training, not the
    * encode). The cap bounds task memory against adversarial
    * vocabularies (random strings would otherwise grow the map with
    * the partition).
    */
  val BpeEncodeCacheMax = 1 << 20

  def bpeApply(corpus: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // one broadcast carries both directions (pair→rank and rank→pair);
    // reading `merges` inside the lambda would re-ship the table in every
    // task closure alongside the broadcast
    val table = merges.toVector
    val rank = table.zipWithIndex.toMap
    val bc = spark.sparkContext.broadcast((rank, table))
    def encodeWord(w: String): Int = {
      var syms = w.map(_.toString).toVector
      var done = false
      while (!done && syms.length > 1) {
        val cand = syms.sliding(2).zipWithIndex
          .flatMap { case (Seq(x, y), _) => bc.value._1.get((x, y)) }
          .reduceOption(math.min)
        cand match {
          case None => done = true
          case Some(rk) =>
            val (a, b) = bc.value._2(rk)
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += syms(i); i += 1 }
            }
            syms = out.result()
        }
      }
      syms.length
    }
    // null-safe like the SQL operators: a null-text (or null-id) doc
    // emits no row — the typed decode would otherwise NPE in the task
    // and kill the whole job on one bad row
    textCorpus(corpus, idCol, textCol)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .as[(Long, String)].mapPartitions { it =>
      val memo = scala.collection.mutable.HashMap.empty[String, Int]
      it.map { case (id, text) =>
        val nToks = text.split(" ").filter(_.nonEmpty).iterator.map { w =>
          if (memo.size < BpeEncodeCacheMax) memo.getOrElseUpdate(w, encodeWord(w))
          else memo.getOrElse(w, encodeWord(w))
        }.sum
        (id, nToks.toLong)
      }
    }.toDF("doc_id", "n_bpe_tokens")
  }

  /** Materialize a trained BPE tokenizer under `dir` — the rank-ordered
    * merge table ([[bpeTrain]]'s output) as one parquet file, the
    * artifact a training build ships to every encode job. Tokenizers are
    * a train-once / apply-everywhere lifecycle: unlike the LSH/ANN/PQ
    * indexes there is deliberately NO append path, because the merge
    * sequence is order-defining — merge k's statistics assume merges
    * 1..k-1 already rewrote the corpus, so "appending" merges trained on
    * new data would change what the EXISTING ranks mean. New corpus ⇒
    * retrain ⇒ new artifact version, exactly how production tokenizers
    * version (a GPT-2/LLaMA vocab is frozen per model generation).
    */
  def buildBpeTokenizer(corpus: DataFrame, dir: String, nMerges: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    bpeTrain(corpus, nMerges, idCol, textCol)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")

  /** Encode against a STORED tokenizer — the production encode path:
    * read the merge table (vocab-sized — the same driver-side table
    * [[bpeApply]] broadcasts), apply it per doc. Training cost is paid
    * once at [[buildBpeTokenizer]]; every corpus, shard, and epoch
    * thereafter encodes with zero training work — the reason the stored
    * artifact exists. Identical output to training in-line with the same
    * corpus/merge-count by construction (the merge table IS the
    * tokenizer; spec'd).
    */
  def bpeApplyStored(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val merges = readStored(corpus.sparkSession, s"$dir/merges")
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b"))).toSeq
    bpeApply(corpus, merges, idCol, textCol)
  }

  /** The composed curation funnel — the end-to-end pipeline a pretraining
    * data build actually runs, as ONE declarative plan: quality gate
    * ([[TextAnalysis.qualityFilter]]) → exact dedup (min-id keeper per
    * content hash) → near-dedup (banded MinHash pairs → CC keepers,
    * [[dedupMinHash]] + [[dedupApply]]), reported as the per-stage
    * survivor counts an auditor reads before signing off a corpus drop.
    * Every stage is the same operator users call standalone — the funnel
    * is composition, not re-implementation, which is the point: the
    * stages chain as DataFrames inside one query, Catalyst sees the whole
    * DAG, and nothing materializes between stages except the one persist
    * the near-dup stage reuses three ways (count, band join, anti join).
    *
    * Exact keepers are computed over the RAW corpus: exact copies share
    * their text byte-for-byte, so a hash group passes or fails the
    * (per-doc deterministic) quality gate as a unit and the group min
    * over the raw corpus IS the min over quality survivors — one groupBy
    * serves both orderings, and the oracle states the same arithmetic.
    *
    * 100 TB shape: each stage's decision runs on hashes/ids (text enters
    * only the quality projections and the shingle derivation, both
    * narrow scan-stage work); survivor sets pass between stages as
    * id-only semi/anti joins, AQE-broadcast while small. Per-stage
    * counts are combinable aggregates unioned into one 4-row result —
    * the funnel never collects anything to the driver. Measured at
    * sf0.1: 3.7 s (REPS=5 median) vs the oracle's 15.0 s for the same
    * composition (the recursive-CC CTE dominates DuckDB's side).
    */
  /** The funnel's shared stage derivation: (raw corpus, quality-keeper
    * ids, stage-2 survivor corpus), both derived frames stage-pinned.
    *
    * ONE corpus pass derives BOTH stage-1/2 decisions (§2.4 remove
    * passes): the quality flags and the exact-dedup content hash are
    * independent per-row projections of the same rows, so one pinned
    * (doc_id, content_hash, keep) frame feeds both — qIds is a filter of
    * the pin, keepers a groupBy of it — and the md5 groupBy pays no
    * corpus scan of its own. The pin is ids + 32-byte hashes + one flag
    * (text never cached) and always has ≥2 readers (both stage-2 semi
    * joins; the FUNNEL read-out adds a third). quality ids ⊆ corpus ids,
    * so counting qIds IS the stage-1 survivor count — no join needed.
    */
  private[graft] def funnelStages(raw: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val pinStage = stagePin(raw.sparkSession)
    val corpus = textCorpus(raw, idCol, textCol)
    val qk = pinStage(TextAnalysis.qualityFlags(corpus)
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        col("keep")))
    val qIds = qk.filter(col("keep")).select("doc_id")
    val keepers = qk.groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val eCorpus = corpus.join(qIds, Seq("doc_id"), "left_semi")
      .join(keepers, Seq("doc_id"), "left_semi")
      .transform(pinStage)
    (corpus, qIds, eCorpus)
  }

  /** One-pass stage read-out for a funnel whose survivor sets form a
    * SUBSET CHAIN (raw ⊇ quality ⊇ … ⊇ fluent, each frame unique on
    * doc_id): instead of unioning one count-aggregate branch per stage —
    * where Catalyst re-plans every branch's full lineage and the deepest
    * stage's chain is embedded once per row it appears under — left-join
    * a presence mark per stage onto the base ids and take every count in
    * ONE aggregate (`count(1)` = base, `count(m_k)` = stage k; unique
    * right keys preserve row multiplicity, so the counts are identical
    * to the per-stage form — hash-green, spec'd). The read-out plan then
    * carries each gate chain exactly once, the theoretical minimum, and
    * stays fully declarative: nothing is collected to the driver.
    */
  private def stageCountsOnePass(base: (String, DataFrame),
      stages: Seq[(String, DataFrame)]): DataFrame = {
    val marked = stages.zipWithIndex.foldLeft(
        base._2.select(col("doc_id"))) { case (acc, ((_, df), i)) =>
      acc.join(df.select(col("doc_id"), lit(1).as(s"m_$i")),
        Seq("doc_id"), "left")
    }
    val aggs = count(lit(1)).as("c_base") +:
      stages.indices.map(i => count(col(s"m_$i")).as(s"c_$i"))
    val structs = (base._1 +: stages.map(_._1)).zipWithIndex.map {
      case (n, i) => struct(lit(n).as("stage"),
        col(if (i == 0) "c_base" else s"c_${i - 1}").as("n_docs"))
    }
    marked.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(structs: _*)).as("s"))
      .select(col("s.stage"), col("s.n_docs"))
  }

  def curationFunnel(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (raw, qIds, eCorpus) = funnelStages(corpus, idCol, textCol)
    val kept = dedupApply(eCorpus, dedupMinHash(eCorpus))
    stageCountsOnePass(("0_raw", raw), Seq(
      "1_quality" -> qIds, "2_exact_dedup" -> eCorpus,
      "3_near_dedup" -> kept))
  }

  /** The funnel's terminal materialization — the curated corpus itself
    * (what a training build writes out after [[curationFunnel]]'s counts
    * are signed off): every stage-2 survivor that is not a non-keeper
    * member of a near-dup cluster, dumped as (doc_id, n_chars) — the
    * kept rows' identity plus a content witness, the [[dedupApply]]
    * dump convention.
    */
  def curationApply(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (_, _, eCorpus) = funnelStages(corpus, idCol, textCol)
    dedupApply(eCorpus, dedupMinHash(eCorpus))
      .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars"))
  }

  /** [[curationFunnel]] extended with the REFERENCE-LM stage — the full
    * CCNet-shaped pipeline (heuristic quality gate → exact dedup → near
    * dedup → LM fluency bar) as one declarative plan: near-dedup
    * survivors score against a stored [[buildFluencyModel]] artifact
    * ([[fluencyStored]] — the same frozen model the streaming ingest
    * gate probes) and must clear `threshold`. Reported as five stage
    * counts. The LM runs LAST deliberately: it is the only stage that
    * touches a stored artifact, and every earlier stage shrinks the
    * batch it has to score. Survivor sets still pass between stages as
    * id-only semi joins; the stage-3 survivor corpus is persisted
    * because the LM probe reads it three ways (footprint job,
    * probability join, mass rows) — each an in-row projection of the
    * cache, cheaper than writing a second bigram cache (the
    * llm_keywords lesson) — released at the caller's clearCache, the
    * funnel's existing cache discipline.
    */
  def curationFunnelLm(corpus: DataFrame, lmDir: String,
      threshold: Double = 0.0333, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (raw, qIds, eCorpus) = funnelStages(corpus, idCol, textCol)
    val kept = dedupApply(eCorpus, dedupMinHash(eCorpus))
      .transform(stagePin(corpus.sparkSession))
    val fluent = fluencyStored(kept, lmDir)
      .filter(col("fluency") >= threshold).select("doc_id")
    stageCountsOnePass(("0_raw", raw), Seq(
      "1_quality" -> qIds, "2_exact_dedup" -> eCorpus,
      "3_near_dedup" -> kept, "4_fluent" -> fluent))
  }

  /** The COMPLETE batch pipeline — [[curationFunnelLm]] plus the
    * benchmark-decontamination stage, closing the last gate-parity gap
    * with the live loop ([[graft.llm.StreamingIngest]] runs quality →
    * decontam → near → fluency; the batch funnel now runs quality →
    * decontam → exact → near → fluency — exact dedup has no streaming
    * analog because the stored minhash gate subsumes byte-copies). Six
    * stage counts in ONE declarative plan. Stage order is the cost
    * argument made twice: decontam runs on quality survivors only (the
    * stateless gates lead and shrink everything), and the LM — the one
    * stored-artifact scorer — still runs LAST on the smallest set.
    * Survivor sets pass between stages as id-only semi joins; the
    * decontam probe broadcasts the frozen gram artifact (the ONE
    * inverted-broadcast artifact — see [[decontaminateStored]]); and the
    * corpus is shingled ONCE ([[StreamingIngest]]'s epoch discipline):
    * the persisted quality-survivor signature frame feeds the decontam
    * membership probe and, id-filtered, the near-dup band/verify chain
    * (measured 10.2 → 9.4 s at sf0.1 vs the naive re-shingle — modest at
    * harness SF where per-stage fixed cost dominates, structural at
    * 100 TB where shingling is the per-row cost).
    */
  /** The shared stage chain of [[curationFunnelFull]] /
    * [[curationApplyFull]]: (raw, quality ids, OPTIONAL trained-
    * classifier survivor ids, decontam-clean ids, exact-survivor ids,
    * near-dedup kept corpus, fluent ids) — every frame lazy (except the
    * classifier probe's one-row footprint job when that gate is on),
    * the caches released at the caller's clearCache.
    */
  private[graft] def fullStages(corpus: DataFrame, lmDir: String,
      decontamDir: String, threshold: Double, maxSharedGrams: Long,
      idCol: String, textCol: String,
      lmLangDir: Option[String] = None, langCol: String = "lang",
      qualityModelDir: Option[String] = None, qualityTau: Double = 1.0)
      : (DataFrame, DataFrame, Option[DataFrame], DataFrame, DataFrame,
         DataFrame, DataFrame) = {
    val pinStage = stagePin(corpus.sparkSession)
    // with the PER-LANGUAGE bar on, the corpus carries its language
    // label through the chain (the deltaGates convention): the stage-5
    // scorer and its (lang, wb) footprint need it, every earlier gate
    // ignores the extra column
    val raw =
      if (lmLangDir.isDefined)
        GraftExtensions.register(corpus).select(col(idCol).as("doc_id"),
          col(textCol).as("text"), col(langCol).as("lang"))
      else textCorpus(corpus, idCol, textCol)
    // ONE corpus pass derives the quality flags AND the exact-dedup
    // content hash (the [[funnelStages]] fused-gate-pass rationale: two
    // independent per-row projections of the same rows fuse into one
    // pinned (doc_id, content_hash, keep) frame — ids+hashes only, text
    // never cached — removing the md5 groupBy's own corpus scan)
    val qk = pinStage(TextAnalysis.qualityFlags(corpus, idCol, textCol)
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        col("keep")))
    val qIds = qk.filter(col("keep")).select("doc_id")
    // the TRAINED-classifier gate rides with the stateless leaders
    // (three-surface parity: the live loop's qualityModelDir option,
    // now on the batch funnel too): the corpus scores against the
    // frozen [[buildQualityClassifier]] artifact in its
    // CHURN/CORPUS-SCALE form (footprint = false — a corpus-sized
    // batch's bucket footprint saturates every weight directory, so
    // the eager footprint job would pay a corpus pass + driver barrier
    // to prune nothing; AQE picks the scored join, the artifact never a
    // build side). The scorer's batch is RAW, not the heuristic
    // survivors: per-doc scores are batch-independent, so restricting
    // to the quality set via one id-only semi join AFTER scoring is
    // bit-identical while each of the scorer's two corpus scans drops
    // its broadcast semi join (the curateDelta lesson). Every later
    // stage derives from the intersection, so the whole funnel
    // downstream shrinks. The micro-batch serving path
    // (llm_quality_clf_idx) keeps the pruned footprint form.
    val clfIds = qualityModelDir.map { qd =>
      qualityScoreStored(raw.select(col("doc_id"), col("text")),
          qd, qualityTau, "doc_id", "text", footprint = false)
        .filter(col("pred")).select("doc_id")
        .join(qIds, Seq("doc_id"), "left_semi").transform(pinStage)
    }
    val gateIds = clfIds.getOrElse(qIds)
    // ONE shingling of the gate survivors (the [[StreamingIngest]]
    // epoch discipline): the persisted signature frame feeds the decontam
    // probe AND, filtered to stage-3 survivors, the near-dup band/verify
    // chain — the stage-4 corpus is never re-shingled
    val sig = signaturesOf(raw.join(gateIds, Seq("doc_id"), "left_semi"))
      .transform(pinStage)
    // the decontam gate probes ONLY the quality survivors; its output ids
    // are already ⊆ qIds, so `clean` IS the stage-2 survivor set
    val clean = decontaminateStoredFrom(sig, decontamDir)
      .filter(col("n_shared") <= maxSharedGrams)
      .select("doc_id").transform(pinStage)
    val keepers = qk.groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val eIds = clean.join(keepers, Seq("doc_id"), "left_semi").transform(pinStage)
    val eSig = sig.join(eIds, Seq("doc_id"), "left_semi")
    val bands = bandsOf(eSig).transform(pinStage)
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val verified = pairs
      .join(eSig.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(eSig.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sa.gs"), col("sb.gs"))).cast("double") /
          size(array_union(col("sa.gs"), col("sb.gs")))).as("jaccard"))
      .filter(col("jaccard") >= 0.6)
    val eCorpus = raw.join(eIds, Seq("doc_id"), "left_semi")
    val kept = dedupApply(eCorpus, verified).transform(pinStage)
    // the LM bar — global model, or each survivor under its OWN
    // language's stored model (the three-surface parity rule: the live
    // loop and the nightly delta already accept lmLangDir). The
    // per-language probe's footprint job and bigram encode both read
    // the persisted stage-4 cache.
    val fluent = lmLangDir match {
      case Some(ld) => fluencyStoredByLang(kept, ld)
        .filter(col("fluency") >= threshold).select("doc_id")
      case None => fluencyStored(kept, lmDir)
        .filter(col("fluency") >= threshold).select("doc_id")
    }
    (raw, qIds, clfIds, clean, eIds, kept, fluent)
  }

  /** The six-gate batch funnel's stage read-out; with `qualityModelDir`
    * set, the TRAINED quality classifier gates between the heuristic
    * pass and the decontam stage (read-out gains a `1b_clf` row and
    * every later stage counts the shrunken chain) — the last of the
    * three curation surfaces to take the live loop's
    * qualityModelDir/qualityTau option (gate parity, the round-14
    * per-language-bar precedent).
    */
  def curationFunnelFull(corpus: DataFrame, lmDir: String,
      decontamDir: String, threshold: Double = 0.0333,
      maxSharedGrams: Long = 0L, idCol: String = "doc_id",
      textCol: String = "text",
      qualityModelDir: Option[String] = None,
      qualityTau: Double = 1.0): DataFrame = {
    val (raw, qIds, clfIds, clean, eIds, kept, fluent) = fullStages(
      corpus, lmDir, decontamDir, threshold, maxSharedGrams, idCol, textCol,
      qualityModelDir = qualityModelDir, qualityTau = qualityTau)
    stageCountsOnePass(("0_raw", raw),
      Seq("1_quality" -> qIds) ++
      clfIds.map("1b_clf" -> _) ++
      Seq("2_decontam" -> clean, "3_exact_dedup" -> eIds,
        "4_near_dedup" -> kept, "5_fluent" -> fluent))
  }

  /** [[curationFunnelFull]] with the PER-LANGUAGE fluency bar — the last
    * of the three curation surfaces to take `lmLangDir` (live ingest
    * loop and nightly delta already do — the three-surface parity rule):
    * stage-4 survivors score under their OWN language's stored
    * [[buildFluencyModelByLang]] transitions, so a minority-language doc
    * is judged against its own bar instead of being diluted by the
    * majority's transition mass. Same chain, same one-shingling
    * discipline, same six stage counts — only the stage-5 scorer
    * differs ([[fluencyStoredByLang]]: (lang, wb)-pruned model scan,
    * batch-side size-gated broadcast, never the artifact).
    */
  def curationFunnelFullLang(corpus: DataFrame, lmLangDir: String,
      decontamDir: String, threshold: Double = 0.0333,
      maxSharedGrams: Long = 0L, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang"): DataFrame = {
    val (raw, qIds, _, clean, eIds, kept, fluent) = fullStages(
      corpus, "", decontamDir, threshold, maxSharedGrams, idCol, textCol,
      lmLangDir = Some(lmLangDir), langCol = langCol)
    stageCountsOnePass(("0_raw", raw), Seq(
      "1_quality" -> qIds, "2_decontam" -> clean, "3_exact_dedup" -> eIds,
      "4_near_dedup" -> kept, "5_fluent" -> fluent))
  }

  /** The full pipeline's terminal materialization — the corpus a training
    * build actually writes once every gate has run: stage-4 keepers ∩
    * the fluency-bar survivors, dumped as (doc_id, n_chars) — the
    * [[curationApply]] witness convention over [[curationFunnelFull]]'s
    * chain (same stages, same one-shingling discipline — only the ending
    * differs: the kept ROWS instead of the six counts).
    */
  def curationApplyFull(corpus: DataFrame, lmDir: String,
      decontamDir: String, threshold: Double = 0.0333,
      maxSharedGrams: Long = 0L, idCol: String = "doc_id",
      textCol: String = "text",
      qualityModelDir: Option[String] = None,
      qualityTau: Double = 1.0): DataFrame = {
    val (_, _, _, _, _, kept, fluent) = fullStages(
      corpus, lmDir, decontamDir, threshold, maxSharedGrams, idCol, textCol,
      qualityModelDir = qualityModelDir, qualityTau = qualityTau)
    kept.join(fluent, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars"))
  }

  /** [[curationApplyFull]] under the PER-LANGUAGE bar — the terminal
    * corpus of [[curationFunnelFullLang]]'s chain, witness-dumped: what
    * a per-language build actually writes. Same stages, same
    * one-shingling discipline; the survivor set differs from the global
    * form exactly where a doc's own-language score and the
    * globally-diluted one fall on opposite sides of the bar.
    */
  def curationApplyFullLang(corpus: DataFrame, lmLangDir: String,
      decontamDir: String, threshold: Double = 0.0333,
      maxSharedGrams: Long = 0L, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang"): DataFrame = {
    val (_, _, _, _, _, kept, fluent) = fullStages(
      corpus, "", decontamDir, threshold, maxSharedGrams, idCol, textCol,
      lmLangDir = Some(lmLangDir), langCol = langCol)
    kept.join(fluent, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars"))
  }

  /** Corpus snapshot diff — the dataset-versioning audit run between two
    * crawl generations before a retrain: per doc_id, `added` (only in
    * the new snapshot), `removed` (only in the old), `changed` (both,
    * content hash differs), `unchanged`. The decision runs entirely on
    * (doc_id, md5) fingerprint projections joined full-outer on doc_id —
    * text never crosses the shuffle, so at 100 TB the diff costs one
    * hash pass over each snapshot plus a fingerprint-sized join (AQE
    * broadcasts a small snapshot side; both-large degrades to a hash
    * join of 48-byte rows). `unchanged` rows — the overwhelming mass of
    * real consecutive snapshots — are dropped from the output by
    * default, so output ∝ churn, not corpus.
    */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      keepUnchanged: Boolean = false): DataFrame = {
    // presence flags, not hash-nullness, decide added/removed: md5(NULL)
    // is NULL, so a doc PRESENT with null text would otherwise be
    // indistinguishable from an absent row and misclassify (present-null
    // → 'x' must be 'changed', not 'added'); <=> makes null-vs-null
    // compare as unchanged
    def fp(df: DataFrame, h: String, p: String) = textCorpus(df, idCol, textCol)
      .select(col("doc_id"), md5(col("text")).as(h), lit(true).as(p))
    val joined = fp(oldSnap, "old_hash", "in_old")
      .join(fp(newSnap, "new_hash", "in_new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("old_hash") <=> col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_hash"), col("new_hash"))
    if (keepUnchanged) joined else joined.filter(col("status") =!= "unchanged")
  }

  /** Harness fixture for [[corpusDiff]]: the "next crawl generation" —
    * every 11th doc gone (removed), every 7th surviving doc re-crawled
    * with a changed tail (changed), a 13th-doc slice arriving under new
    * ids (added), everything else byte-identical (unchanged).
    */
  def snapshotNext(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 70000000L).as("doc_id"), col("text")))

  val SnapshotNextSql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
      |FROM documents WHERE doc_id % 11 <> 0
      |UNION ALL
      |SELECT doc_id + 70000000, text FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** [[snapshotNext]]'s embedding-corpus twin — the next vector
    * generation for the ANN/PQ coverage audits: every 11th vector
    * removed, every 13th re-embedded under a new id (arrivals the stored
    * cell/code tables have never seen).
    */
  def vecSnapshotNext(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 11 =!= 0)
      .unionByName(emb.filter(col("vec_id") % 13 === 0)
        .withColumn("vec_id", col("vec_id") + 700000L))

  val VecSnapshotNextSql: String =
    """SELECT * FROM embeddings WHERE vec_id % 11 <> 0
      |UNION ALL
      |SELECT * REPLACE (vec_id + 700000 AS vec_id) FROM embeddings WHERE vec_id % 13 = 0""".stripMargin

  /** Harness fixture for [[curateDelta]]: [[snapshotNext]] plus a slice of
    * NEAR-duplicate arrivals — every 17th doc re-crawled under a new id
    * with a drifted tail. These pass the exact gate (the text differs)
    * but near-dup against the stored index's original — the case the
    * delta pipeline's stage-3 probe exists to catch.
    */
  def snapshotCurate(docs: DataFrame): DataFrame =
    snapshotNext(docs)
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 90000000L).as("doc_id"),
          concat(col("text"), lit(" drift")).as("text")))

  val SnapshotCurateSql: String =
    s"""$SnapshotNextSql
       |UNION ALL
       |SELECT doc_id + 90000000, text || ' drift' FROM documents WHERE doc_id % 17 = 0""".stripMargin

  /** [[snapshotCurate]] with the language label carried — re-crawls and
    * near-dup arrivals inherit their source doc's language, the fixture
    * the PER-LANGUAGE nightly bar scores.
    */
  def snapshotCurateLang(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"), col("lang"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 70000000L).as("doc_id"), col("text"),
          col("lang")))
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 90000000L).as("doc_id"),
          concat(col("text"), lit(" drift")).as("text"), col("lang")))

  val SnapshotCurateLangSql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text,
      |       lang
      |FROM documents WHERE doc_id % 11 <> 0
      |UNION ALL
      |SELECT doc_id + 70000000, text, lang FROM documents WHERE doc_id % 13 = 0
      |UNION ALL
      |SELECT doc_id + 90000000, text || ' drift', lang FROM documents WHERE doc_id % 17 = 0""".stripMargin

  /** Incremental curation between crawl generations — what a production
    * pipeline runs NIGHTLY once [[curationFunnel]] has signed off the
    * initial corpus: only the new generation's churn (added/changed docs,
    * the [[corpusDiff]] decision) runs the gates, each gate probing
    * STORED state instead of re-deriving the corpus — quality
    * (per-doc, churn-only), exact (content hash anti-joined against the
    * base generation's hashes), near (the stored-LSH one-sided probe,
    * [[incrementalDedupMinHashIndexedFrom]] with self-ids excluded: a
    * changed doc is an UPDATE that replaces its old version, not a
    * duplicate of it). Reported as the per-stage survivor counts, the
    * [[curationFunnel]] read-out over the delta.
    *
    * 100 TB shape: cost ∝ churn, never corpus — the diff is a
    * fingerprint join (text never shuffles), quality runs on delta rows
    * only, the exact gate ships 16-byte hashes, and the near gate reads
    * only the index directories the delta's own band keys prune to. Each
    * snapshot's text is read exactly once: the old generation's
    * (doc_id, md5) fingerprints derive in one pass and persist
    * (48-byte rows), shared by the churn decision AND the exact gate's
    * anti-membership; the stored index is never scanned beyond the
    * probe footprint. The one corpus-linear stage is that single narrow
    * hash scan — the cheapest possible touch of the base generation.
    *
    * Cache lifecycle: the stage frames (fingerprints, delta, survivors,
    * batch signatures/bands — all churn-sized or narrower, never corpus
    * text) back the returned counts and live until the caller's
    * post-materialization `clearCache` (the Bench/Verify rep discipline)
    * or session end; a long-running service embedding this call should
    * use [[curateDeltaReport]], which materializes the counts and
    * releases exactly the caches the run pinned. Every stage count up
    * to the exact gate comes back as a LITERAL collected by the fused
    * footprint barrier; only the near/fluent read-out stays lazy — the
    * part whose plan (the stored-index probe + LM chain) is the
    * operator's scale evidence. Catalyst re-plans each union branch's
    * full lineage, so each literal is one whole gate-chain subtree the
    * read-out plan no longer pays for — measured at sf0.1 this planning
    * plus the redundant count jobs was ~0.8 s of the nightly's wall.
    */
  def curateDelta(oldSnap: DataFrame, newSnap: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.6,
      lmDir: Option[String] = None,
      fluencyThreshold: Double = 0.0333,
      decontamDir: Option[String] = None,
      maxSharedGrams: Long = 0L,
      lmLangDir: Option[String] = None,
      langCol: String = "lang",
      qualityModelDir: Option[String] = None,
      qualityTau: Double = 1.0): DataFrame =
    curateDeltaPinned(oldSnap, newSnap, indexDir, idCol, textCol, threshold,
      lmDir, fluencyThreshold, decontamDir, maxSharedGrams,
      scala.collection.mutable.ArrayBuffer.empty[DataFrame],
      lmLangDir, langCol, qualityModelDir, qualityTau)

  /** [[curateDelta]] for a LONG-LIVED service: materializes the stage
    * counts, releases every cache the run pinned, and returns the report
    * as local rows — after the call the session holds no delta-run state
    * (vs the lazy [[curateDelta]] frame, whose caches live until the
    * caller's `clearCache`/session end — the Bench/Verify rep contract).
    * The report is ≤6 (stage, count) rows, so collecting it is a scalar
    * fetch at any corpus size; the unpersists are non-blocking (executor
    * blocks free asynchronously under the next generation's run).
    */
  def curateDeltaReport(oldSnap: DataFrame, newSnap: DataFrame,
      indexDir: String, idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.6,
      lmDir: Option[String] = None,
      fluencyThreshold: Double = 0.0333,
      decontamDir: Option[String] = None,
      maxSharedGrams: Long = 0L,
      lmLangDir: Option[String] = None,
      langCol: String = "lang",
      qualityModelDir: Option[String] = None,
      qualityTau: Double = 1.0): Seq[(String, Long)] = {
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val out = curateDeltaPinned(oldSnap, newSnap, indexDir, idCol, textCol,
      threshold, lmDir, fluencyThreshold, decontamDir, maxSharedGrams, pins,
      lmLangDir, langCol, qualityModelDir, qualityTau)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    pins.foreach(_.unpersist(false))
    rows
  }

  /** The delta chain's shared gate frames — what [[curateDeltaPinned]]
    * reads out as stage counts and [[curateDeltaApply]] commits: churn,
    * per-gate survivor id frames, the admitted docs, plus the cached
    * signature/band pair the apply's index append reuses. `cleanCount`
    * carries the decontam survivor count collected by the fused
    * footprint job (so the read-out never re-runs the gram join).
    */
  private final case class DeltaGates(
      delta: DataFrame, deltaCount: Long, qIds: DataFrame, qCount: Long,
      clfIds: Option[DataFrame], clfCount: Option[Long],
      cleanIds: Option[DataFrame], cleanCount: Option[Long],
      ecCount: Long, dcClfCount: Option[Long],
      eC: DataFrame, kept: DataFrame, fluentIds: Option[DataFrame],
      bSig: DataFrame, bBands: DataFrame, survivors: DataFrame)

  /** Derive every delta-gate frame once — the single-sourced chain
    * behind [[curateDelta]] (stage-count read-out) and
    * [[curateDeltaApply]] (terminal commit). Every gate here is a
    * PER-DOC predicate against frozen external state (quality: the doc
    * itself; decontam: the doc's grams vs the frozen benchmark table;
    * exact: the doc's hash vs the base generation; near: the doc's
    * bands vs the stored index, self-id excluded; LM: the doc's bigrams
    * vs the frozen model), so the gates commute and the admitted set is
    * the plain intersection — which licenses the barrier layout below:
    * the exact-survivor frame (and the probes' footprints) derive
    * WITHOUT the decontam intersect, taking the gram join + groupBy off
    * the fused footprint job's critical path, and the decontam filter
    * applies as an end-stage id intersection (the round-12 LM-bar
    * precedent, one gate further). The few extra docs the probes score
    * (the contaminated fraction of the churn) are bounded and cheap
    * next to a deeper serial barrier.
    *
    * Barrier layout: ONE fused eager job derives every footprint the
    * stored probes need (LSH band footprint + size gate; LM bucket
    * footprint + token gate when the bar is on) AND the decontam
    * survivor count when that gate is on — the single-row aggregates
    * crossJoin into one collected row, so the shingle/band chain and
    * the gram-gate chain materialize their shared caches CONCURRENTLY
    * inside one driver barrier. The decontam gate stays the bare
    * anti-membership form (raw gram table, no distinct, no broadcast
    * hint — AQE picks the build side; DISTINCT shared grams per doc
    * neutralizes replay-duplicate multiplicity). The near probe
    * re-shingles the cached exact survivors rather than sharing one
    * persisted signature frame through a semi-join graph (measured:
    * each shared read is a broadcast-build job; map work fuses into
    * existing stages — 13.5 → 8.0 s at sf0.1).
    */
  private def deltaGates(oldSnap: DataFrame, newSnap: DataFrame,
      indexDir: String, idCol: String, textCol: String, threshold: Double,
      lmDir: Option[String], fluencyThreshold: Double,
      decontamDir: Option[String], maxSharedGrams: Long,
      pins: scala.collection.mutable.ArrayBuffer[DataFrame],
      lmLangDir: Option[String] = None,
      langCol: String = "lang",
      qualityModelDir: Option[String] = None,
      qualityTau: Double = 1.0): DeltaGates = {
    require(lmDir.isEmpty || lmLangDir.isEmpty,
      "lmDir and lmLangDir are mutually exclusive: one fluency bar per " +
        "run (the per-language model replaces the global one)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def pin(df: DataFrame): DataFrame = { pins += df.persist(lvl); df }
    val oldC = textCorpus(oldSnap, idCol, textCol)
    // with the PER-LANGUAGE bar on, the churn carries its language label
    // through the chain (the scoring and its (lang, wb) footprint need
    // it); every other gate ignores the extra column
    val newC =
      if (lmLangDir.isDefined)
        GraftExtensions.register(newSnap).select(col(idCol).as("doc_id"),
          col(textCol).as("text"), col(langCol).as("lang"))
      else textCorpus(newSnap, idCol, textCol)
    val oldFp = pin(oldC.select(col("doc_id"), md5(col("text")).as("oh")))
    // churn = added ∪ changed: the corpusDiff decision, inlined over the
    // shared fingerprints (removed docs don't ingest, so the left join
    // suffices — no full-outer needed here).
    //
    // ONE join, not id-derivation + semi join: doc_id is unique per
    // snapshot generation (the corpusDiff/epoch contract every gate here
    // already assumes), so `newC ⟕ oldFp, filter changed` IS the churn —
    // row-identical to the historical `newC ⋉ deltaIds` form. The semi
    // form measured strictly worse: Catalyst pushes a LeftSemi through
    // newC's union (snapshots arrive as multi-branch unions — the
    // replaced/added/drifted generations), duplicating the WHOLE diff
    // subtree into every branch with no exchange reuse — at sf0.1 the
    // delta cache build re-planned the fingerprint pass 3× behind 6
    // extra exchanges; at 100 TB that is two redundant fingerprint
    // passes over the new snapshot.
    val delta = pin(newC.withColumn("nh", md5(col("text")))
      .join(oldFp, Seq("doc_id"), "left_outer")
      .filter(col("oh").isNull || col("oh") =!= col("nh"))
      .select(newC.columns.map(col): _*))
    // persisted when the decontam gate is on: the id frame then has three
    // consumers (its stage count, the gram-gate input, the clean-id
    // anti-join) and an un-cached qualityFilter chain re-derives per use.
    // NOT pinned for the trained-clf gate: measured quiet sf0.1 REPS=5
    // A/B — pin(qIds) 5.22 s, pin(qC) 7.01 s, unpinned 4.5 s; the
    // re-derived map-side chain fuses into the consumers' scan stages
    // while each persist is an extra materialization job (the
    // fluencyStored cache-write lesson)
    val qIds0 = TextAnalysis.qualityFilter(delta)
      .filter(col("keep")).select("doc_id")
    val qIds = if (decontamDir.isDefined) pin(qIds0) else qIds0
    val qC = delta.join(qIds, Seq("doc_id"), "left_semi")
    // exact gate over the QUALITY survivors (decontam deliberately not
    // intersected here — see the scaladoc's commuting-gates argument)
    val eC = pin(qC.join(oldFp.select(col("oh").as("ch")).distinct(),
      md5(col("text")) === col("ch"), "left_anti"))
    val bSig = pin(signaturesOf(eC))
    val bBands = pin(bandsOf(bSig))
    // the optional BENCHMARK-LEAKAGE gate — the same stage the live loop
    // and the full batch funnel run (three-surface parity), derived off
    // the quality survivors exactly as before but applied as an
    // end-stage intersection
    val cleanIds = decontamDir.map { dd =>
      val bench = readStored(delta.sparkSession, s"$dd/grams").select("h")
      val dirty = signaturesOf(qC)
        .select(col("doc_id"), explode(col("gs")).as("h"))
        .join(bench, "h")
        .groupBy("doc_id").agg(countDistinct(col("h")).as("ns"))
        .filter(col("ns") > maxSharedGrams).select("doc_id")
      pin(qIds.join(dirty, Seq("doc_id"), "left_anti"))
    }
    // ONE fused eager job: the probes' footprints/size gates AND the
    // decontam survivor count crossJoin into one collected row — their
    // chains materialize the shared caches concurrently inside one
    // driver barrier instead of two or three sequential ones. Each
    // barrier here is a full stage chain over the churn derivation —
    // fusing them is the difference between this query and its oracle.
    // The per-language footprint derives from the CORPUS scan
    // (lmLangFpAggDocs — token buckets ⊇ prefix buckets, token total ≥
    // bigram mass, both sound over-approximations), NOT from a pinned
    // docBigramsLang frame: with the footprint off the corpus, the
    // bigram frame has exactly ONE consumer (the probability join) and
    // nothing corpus-sized is cached — fluencyStored's measured lesson
    // (persisted batch bigrams: the cache write dominates), applied to
    // the nightly lang chain (matched alternating A/B at sf0.1, REPS=7
    // medians: 6.13/5.94/5.38 → 5.49/5.00/5.12 s — new wins every pair)
    // the TRAINED-classifier gate (three-surface parity: the live
    // loop's qualityModelDir/qualityTau option on the nightly too) — a
    // per-doc predicate against the frozen artifact, so it commutes:
    // derived off the quality survivors, applied as an end-stage id
    // intersection (the decontam precedent). The scorer runs in its
    // CHURN-SCALE form (footprint = false — a nightly's bucket
    // footprint saturates all QclfBuckets directories, so the eager
    // footprint row would pay a barrier to prune nothing), which keeps
    // the whole scoring chain lazy: its count rides the fused barrier
    // below and the pinned id frame materializes CONCURRENTLY with the
    // minhash shingle chain instead of serially in the stage-count job
    // (measured quiet sf0.1 REPS=5: 4.52 → ~3 s)
    // the scorer's batch is the WHOLE pinned churn, not the quality
    // survivors: scores are per-doc against the frozen artifact
    // (batch-independent — footprint = false has no size gate), so
    // score(delta) restricted to the quality set ≡ score(qC) bit-exactly,
    // and both scorer scans become plain cache reads instead of each
    // re-deriving the qualityFlags chain (trigram shingles + two
    // regexes per evaluation — the expensive part of this branch). The
    // extra work is scoring the quality-dropped slice of the churn —
    // linear in its tokens, cheaper than two flag re-derivations. The
    // later-stage intersections need no quality filter (eC/kept are
    // already quality-gated); only the 1b_clf literal intersects with
    // qIds, inside the fused barrier below.
    val clfIds = qualityModelDir.map { qd =>
      pin(qualityScoreStored(delta.select("doc_id", "text"), qd, qualityTau,
          "doc_id", "text", footprint = false)
        .filter(col("pred")).select("doc_id"))
    }
    // the per-doc decontam/clf gates apply to any frame as id-only
    // semi intersections (the commuting-gates argument above)
    def cleanOf(df: DataFrame): DataFrame = {
      val c = cleanIds.fold(df)(ci => df.join(ci, Seq("doc_id"), "left_semi"))
      clfIds.fold(c)(ci => c.join(ci, Seq("doc_id"), "left_semi"))
    }
    val aggs = Seq(mhFpAgg(bBands)) ++
      lmDir.map(_ => lmFpAgg(eC)) ++
      lmLangDir.map(_ => lmLangFpAggDocs(eC)) ++
      cleanIds.map(_.agg(count(lit(1)).as("dc_n"))) ++
      // the trained-classifier gate's survivor count — materializes the
      // pinned clfIds cache inside this barrier (concurrent with the
      // shingle chain), and doubles as the 1b_clf stage literal; the
      // qIds intersection restricts the full-churn scored set to the
      // quality survivors (clfkeep — the oracle's nested count)
      clfIds.map(_.join(qIds, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("clf_n"))) ++
      // with BOTH end-stage gates on, the nested 2_decontam stage count
      // carries the clf intersection — a semi join of two pinned id
      // frames, so it rides this barrier as one more literal branch
      (if (cleanIds.isDefined && clfIds.isDefined)
        Seq(cleanOf(cleanIds.get).agg(count(lit(1)).as("dcq_n"))) else Nil) ++
      // the 0_delta / 1_quality / exact stage counts ride the same
      // barrier as literals: the churn and exact-survivor caches are
      // being materialized here anyway, and every stage count folded
      // into this crossJoin is one full gate-chain subtree the final
      // read-out plan no longer carries (Catalyst re-plans each union
      // branch's whole lineage — at churn scale the planning is a
      // measurable slice of the nightly's wall time)
      Seq(delta.agg(count(lit(1)).as("delta_n")),
        qIds.agg(count(lit(1)).as("q_n")),
        cleanOf(eC).agg(count(lit(1)).as("ec_n")))
    val fused = aggs.reduce(_ crossJoin _).collect()(0)
    val cleanCount = cleanIds.map(_ => fused.getLong(fused.fieldIndex("dc_n")))
    val clfCount = clfIds.map(_ => fused.getLong(fused.fieldIndex("clf_n")))
    val dcClfCount =
      if (cleanIds.isDefined && clfIds.isDefined)
        Some(fused.getLong(fused.fieldIndex("dcq_n"))) else None
    val deltaCount = fused.getLong(fused.fieldIndex("delta_n"))
    val qCount = fused.getLong(fused.fieldIndex("q_n"))
    val ecCount = fused.getLong(fused.fieldIndex("ec_n"))
    // Size-gated broadcast of the END-STAGE id frames (guide §3.1): the
    // fused barrier above already collected exact row bounds for every
    // one of them as driver literals — fluent/kept ids ⊆ eC (ecCount),
    // cleanIds' count is exact, clfIds ⊆ delta (deltaCount) — so the
    // gate costs ZERO extra jobs. Under [[GateBroadcastMaxRows]] the
    // intersection semi joins plan as BroadcastHashJoin instead of
    // SortMergeJoin over KB-sized cached branches (each SMJ = two
    // Exchange + two Sort + 2-3 extra AQE query stages of pure driver
    // orchestration — the measured per-stage tax on this family); over
    // the bound the hint drops and AQE decides from runtime stats, the
    // standard degradation ([[gateBroadcast]]).
    // kept is persisted: the stage read-out, the LM intersect, and the
    // apply's survivor set all consume it — an id-only frame, never
    // corpus-sized
    val kept = pin(incrementalDedupMinHashIndexedFrom(bSig, bBands, indexDir,
      threshold, excludeSelfId = true, fpRow = Some(fused)))
    // the optional NIGHTLY LM bar — scores the cached exact survivors
    // (the round-12 restructure: the LM chain runs concurrently with the
    // probe chain inside the final job instead of sitting behind it)
    val fluentIds = (lmDir, lmLangDir) match {
      case (Some(lm), _) => Some(
        fluencyStored(eC, lm, fpRow = Some(fused))
          .filter(col("fluency") >= fluencyThreshold).select("doc_id"))
      case (_, Some(ld)) => Some(
        fluencyStoredByLangFrom(eC,
            docBigramsLang(eC, "doc_id", "text", "lang"), ld,
            fpRow = Some(fused))
          .filter(col("fluency") >= fluencyThreshold).select("doc_id"))
      case _ => None
    }
    val survivorIds0 = fluentIds match {
      case Some(fl) =>
        kept.join(gateBroadcast(fl, ecCount), Seq("doc_id"), "left_semi")
      case None     => kept
    }
    val survivorIds1 = cleanIds match {
      case Some(ci) =>
        survivorIds0.join(gateBroadcast(ci, cleanCount.get), Seq("doc_id"),
          "left_semi")
      case None     => survivorIds0
    }
    val survivorIds = clfIds match {
      case Some(ci) =>
        survivorIds1.join(gateBroadcast(ci, deltaCount), Seq("doc_id"),
          "left_semi")
      case None     => survivorIds1
    }
    val survivors =
      eC.join(gateBroadcast(survivorIds, ecCount), Seq("doc_id"), "left_semi")
    DeltaGates(delta, deltaCount, qIds, qCount, clfIds, clfCount,
      cleanIds, cleanCount, ecCount, dcClfCount, eC, kept, fluentIds,
      bSig, bBands, survivors)
  }

  private def curateDeltaPinned(oldSnap: DataFrame, newSnap: DataFrame,
      indexDir: String, idCol: String, textCol: String, threshold: Double,
      lmDir: Option[String], fluencyThreshold: Double,
      decontamDir: Option[String], maxSharedGrams: Long,
      pins: scala.collection.mutable.ArrayBuffer[DataFrame],
      lmLangDir: Option[String] = None,
      langCol: String = "lang",
      qualityModelDir: Option[String] = None,
      qualityTau: Double = 1.0): DataFrame = {
    val g = deltaGates(oldSnap, newSnap, indexDir, idCol, textCol, threshold,
      lmDir, fluencyThreshold, decontamDir, maxSharedGrams, pins,
      lmLangDir, langCol, qualityModelDir, qualityTau)
    val spark = g.delta.sparkSession
    import spark.implicits._
    // the decontam and trained-classifier filters apply as id
    // intersections on every later stage's read-out (per-doc gates
    // commute — counts are identical to the nested form, see deltaGates).
    // Same size-gated broadcast as the survivor chain: every bound is a
    // collected literal, so the hint costs no job.
    def clean(df: DataFrame): DataFrame = {
      val c = g.cleanIds match {
        case Some(ci) =>
          df.join(gateBroadcast(ci, g.cleanCount.get), Seq("doc_id"),
            "left_semi")
        case None     => df
      }
      g.clfIds match {
        case Some(ci) =>
          c.join(gateBroadcast(ci, g.deltaCount), Seq("doc_id"), "left_semi")
        case None     => c
      }
    }
    // with the decontam gate on, the read-out matches the full funnel's
    // six-stage naming; without it the historical four/five-stage names
    // are preserved byte-for-byte. The trained-classifier gate inserts
    // its own `1b_clf` row (the funnel's labeling) without renumbering.
    val (nearName, fluentName) =
      if (g.cleanIds.isDefined) ("4_near", "5_fluent")
      else ("3_near", "4_fluent")
    // every stage count UP TO the exact gate was collected by the fused
    // footprint job — literal rows. What remains lazy is exactly the
    // part whose plan is the operator's evidence (the stored-index probe
    // and the LM chain); each literal is one full gate-chain subtree the
    // final plan no longer re-plans per union branch.
    val exactName = if (g.cleanIds.isDefined) "3_exact" else "2_exact"
    val base = (
      Seq(("0_delta", g.deltaCount), ("1_quality", g.qCount)) ++
      g.clfCount.map(("1b_clf", _)) ++
      // with the clf gate on too, the nested stage-2 count carries the
      // clf intersection (dcClfCount — fused); decontam-only keeps the
      // plain fused decontam count
      (g.cleanCount match {
        case Some(n) => Seq(("2_decontam", g.dcClfCount.getOrElse(n)))
        case None    => Nil
      }) ++
      Seq((exactName, g.ecCount))
    ).toDF("stage", "n_docs")
    // the near and fluent stages fold into ONE branch: a left join of
    // the cleaned kept ids against the fluent ids counts both in a
    // single pass (count(1) = near survivors, count(fl) = the
    // intersection — fl ids are unique per doc, so the join preserves
    // row count), and the read-out plan carries the probe + LM chains
    // ONCE instead of once per stage row
    g.fluentIds match {
      case Some(fl) =>
        base.unionByName(
          clean(g.kept)
            .join(gateBroadcast(fl.select(col("doc_id"), lit(1).as("fl_hit")),
                g.ecCount), Seq("doc_id"), "left")
            .agg(count(lit(1)).as("n_near"), count(col("fl_hit")).as("n_fluent"))
            .select(explode(array(
              struct(lit(nearName).as("stage"), col("n_near").as("n_docs")),
              struct(lit(fluentName).as("stage"), col("n_fluent").as("n_docs"))))
              .as("s"))
            .select(col("s.stage"), col("s.n_docs")))
      case None =>
        base.unionByName(clean(g.kept).agg(count(lit(1)).as("n_docs"))
          .select(lit(nearName).as("stage"), col("n_docs")))
    }
  }

  /** The nightly delta's TERMINAL ADMIT step — what turns
    * [[curateDelta]]'s report into a production nightly: the delta's
    * survivors COMMIT into the epoch-partitioned stored corpus (the
    * [[graft.llm.StreamingIngest]] sink layout) and their
    * signature/band rows append to the stored minhash index, behind the
    * same write-ordering/crash-window discipline as the live loop.
    * Returns (admitted count, replayed) — `replayed` true when a prior
    * run's corpus commit was found and this call only healed the index.
    *
    * Commit protocol (every crash window converges on re-run):
    *   1. [[graft.cdc.Compaction.recoverDir]] over the corpus and both
    *      index tables — a crash inside an earlier compaction/GC swap
    *      rolls back before anything reads.
    *   2. If the corpus already holds `epoch=<epoch>` rows, the gate
    *      chain is NOT re-run: the committed partition IS the survivor
    *      set (authoritative — re-deriving it against an index some
    *      prior attempt partially appended to could drop mutually-near
    *      batch siblings, shrinking the set). The run skips to step 4.
    *   3. Otherwise the gate chain runs (the index holds no trace of
    *      this epoch — appends commit strictly after the corpus) and the
    *      survivors write via epoch-keyed DYNAMIC partition overwrite —
    *      a replayed epoch replaces its own output, the
    *      [[StreamingIngest]] corpus discipline.
    *   4. The survivors' signature/band rows append to the index. A
    *      crash inside this step replays into step 2's path — the
    *      re-derived rows are deterministic in the text, so the worst
    *      case is duplicate rows, output-harmless to the gate and erased
    *      by the next [[compactMinHashIndex]] (`dedupRows`), exactly the
    *      live loop's partial-append window.
    *   5. A `_delta_epoch_<epoch>` marker lands in `indexDir` (atomic
    *      create) — a fully-committed epoch's replay is a pure no-op
    *      instead of an every-run duplicate append.
    *
    * `compactAfter` folds the index's accumulated append files after the
    * commit — the nightly's natural maintenance slot (heals any replay
    * duplicates the windows above produced).
    *
    * 100 TB shape: identical to [[curateDelta]] (cost ∝ churn — the gate
    * chain is shared code) plus one write of the survivors and one
    * append ∝ survivors; the stored corpus is never rewritten (dynamic
    * overwrite touches only this epoch's directory), the index never
    * rebuilt. Epochs are caller-assigned and monotone (one nightly = one
    * epoch key) — the contract [[readCorpusAsOf]] reads back.
    */
  def curateDeltaApply(oldSnap: DataFrame, newSnap: DataFrame,
      corpusDir: String, indexDir: String, epoch: Long,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.6,
      lmDir: Option[String] = None,
      fluencyThreshold: Double = 0.0333,
      decontamDir: Option[String] = None,
      maxSharedGrams: Long = 0L,
      compactAfter: Boolean = true,
      crashHook: String => Unit = _ => (),
      lmLangDir: Option[String] = None,
      langCol: String = "lang",
      qualityModelDir: Option[String] = None,
      qualityTau: Double = 1.0): (Long, Boolean) = {
    val spark = newSnap.sparkSession
    graft.cdc.Compaction.recoverDir(corpusDir)
    lmLangDir.foreach(graft.cdc.Compaction.recoverDir)
    graft.cdc.Compaction.recoverDir(indexDir)
    Seq(s"$indexDir/signatures", s"$indexDir/bands")
      .foreach(graft.cdc.Compaction.recoverDir)
    val marker = s"$indexDir/_delta_epoch_$epoch"
    val epochDir = s"$corpusDir/epoch=$epoch"
    if (ArtifactFs.exists(spark, marker)) {
      // fully committed: corpus partition + index append + marker all
      // landed — the replay is a no-op (count is a footer read). A
      // zero-survivor nightly (every churn doc gated out — legitimate)
      // committed no partition at all: nothing to read.
      val n = if (ArtifactFs.exists(spark, epochDir))
        spark.read.parquet(corpusDir).filter(col("epoch") === epoch).count()
      else 0L
      return (n, true)
    }
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // finally-released pins: a crashHook throw (the spec's simulated
    // crash) must not leave the session holding the run's caches
    try {
    val (survivors, replay) =
      if (ArtifactFs.exists(spark, epochDir)) {
        // corpus committed, index append unproven: the committed rows
        // are the survivor set; re-derive their (deterministic) rows.
        // The committed layout is CANONICAL (doc_id, text) — deltaGates
        // renames textCol before the write — so the replay read must
        // select the canonical name too, or a non-default textCol run
        // would break exactly when recovery is needed.
        (spark.read.parquet(corpusDir).filter(col("epoch") === epoch)
          .select(col("doc_id"), col("text")), true)
      } else {
        val g = deltaGates(oldSnap, newSnap, indexDir, idCol, textCol,
          threshold, lmDir, fluencyThreshold, decontamDir, maxSharedGrams,
          pins, lmLangDir, langCol, qualityModelDir, qualityTau)
        // survivors persisted: the corpus write, the index append's two
        // derivations, and the returned count all consume it
        val s = g.survivors
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pins += s
        // effectively-once corpus: epoch-keyed dynamic partition
        // overwrite — a replayed epoch replaces its own output. The
        // session's prior mode is restored (unlike the live loop this
        // runs on the CALLER's session, not a foreachBatch clone).
        val prior = spark.conf.getOption(
          "spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try s.withColumn("epoch", lit(epoch))
          .write.mode("overwrite").partitionBy("epoch").parquet(corpusDir)
        finally prior match {
          case Some(v) =>
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None =>
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        (s, false)
      }
    crashHook("corpus-committed") // failure-injection seam (spec'd)
    val n = survivors.count()
    if (n > 0) {
      val sig = signaturesOf(survivors)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      appendMinHashIndexFrom(sig, bandsOf(sig), indexDir)
      sig.unpersist(false)
    }
    crashHook("index-appended") // second seam: before the marker
    ArtifactFs.mark(spark, marker)
    if (compactAfter) compactMinHashIndex(spark, indexDir)
    (n, replay)
    } finally pins.foreach(_.unpersist(false))
  }

  /** Harness fixture for [[incrementalDedup]]: the "new crawl snapshot" —
    * exact copies of every 10th doc (already in the base corpus → must be
    * dropped) ∪ every 7th doc with a fresh tail (genuinely new content →
    * must survive), ids offset so the two batches are disjoint from base.
    */
  def incrementalBatch(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          concat(col("text"), lit(" incremental fresh tail")).as("text")))

  val IncrementalBatchSql: String =
    """SELECT doc_id + 20000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      |UNION ALL SELECT doc_id + 30000000, text || ' incremental fresh tail' FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** Incremental (batch-vs-corpus) exact dedup — the steady-state shape of
    * a production ingest: a new batch arrives, only the docs whose content
    * hash is NOT already in the base corpus survive. A left-anti equi-join
    * on the 32-hex content hash: neither side's text crosses the shuffle,
    * and the base side is its fingerprint projection only — at 100 TB the
    * base fingerprints are ~3 orders smaller than the corpus and the
    * anti-join shuffles hashes, not documents. The batch side is typically
    * tiny vs base ⇒ AQE picks a broadcast of the batch hashes and the base
    * fingerprint scan never shuffles at all.
    */
  def incrementalDedup(base: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val baseFp = textCorpus(base, idCol, textCol)
      .select(md5(col("text")).as("content_hash"))
    textCorpus(batch, idCol, textCol)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .join(baseFp, Seq("content_hash"), "left_anti")
      .select("doc_id", "content_hash")
  }

  /** The scale path of [[incrementalDedup]] when the BASE fingerprint set
    * is too large to broadcast but a few bytes per hash still fit driver
    * memory as a Bloom filter: pre-screen the batch with
    * `mightContain(content_hash)` — definitely-new docs (no false
    * negatives by construction) skip the join entirely; only the
    * might-contain sliver (true dups + fpp·new) pays the exact anti-join.
    * Same output as [[incrementalDedup]] bit-for-bit; the join input
    * shrinks by the true-negative rate (~the fraction of genuinely new
    * content, usually most of a crawl). Bloom membership has no built-in
    * SQL expression, so the probe is a documented scalar UDF over the
    * broadcast filter — off the codegen hot path by design (it gates the
    * shuffle, not the scan).
    */
  def incrementalDedupBloom(base: DataFrame, batch: DataFrame,
      fpp: Double = 0.01, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = base.sparkSession
    // persisted like packSequences' shard frame: the bloom build's count
    // materializes it, the exact anti-join below re-reads it from cache —
    // hashes only, never text
    val baseFp = textCorpus(base, idCol, textCol)
      .select(md5(col("text")).as("content_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bf = baseFp.stat.bloomFilter("content_hash",
      math.max(baseFp.count(), 1L), fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    // null-safe: a null content hash (null-text doc) is "definitely new",
    // matching the exact variant (a null anti-join key never matches, so
    // the row is kept there too); mightContain(null) would throw in-task
    val might = udf((h: String) => h != null && bfB.value.mightContain(h))
    val batchFp = textCorpus(batch, idCol, textCol)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
    val definitelyNew = batchFp.filter(!might(col("content_hash")))
    val needExact = batchFp.filter(might(col("content_hash")))
      .join(baseFp, Seq("content_hash"), "left_anti")
      .select("doc_id", "content_hash")
    definitelyNew.select("doc_id", "content_hash")
      .unionByName(needExact)
  }

  /** Harness fixture for [[incrementalDedupMinHash]]: a crawl snapshot with
    * three deterministic slices — exact copies of every 10th doc (near-dup
    * of the corpus by construction → must drop), every 7th doc with a small
    * appended tail (survives EXACT incremental dedup but is a near-dup here
    * → must drop), and every 13th doc with its word order reversed (3-gram
    * shingles all destroyed → genuinely new content → must survive). Ids
    * offset so the three slices are disjoint from base and from
    * [[incrementalBatch]].
    */
  def incrementalNearBatch(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 40000000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 50000000L).as("doc_id"),
          concat(col("text"), lit(" incremental fresh tail")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 60000000L).as("doc_id"),
          concat_ws(" ", reverse(split(col("text"), " "))).as("text")))

  val IncrementalNearBatchSql: String =
    """SELECT doc_id + 40000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      |UNION ALL SELECT doc_id + 50000000, text || ' incremental fresh tail' FROM documents WHERE doc_id % 7 = 0
      |UNION ALL SELECT doc_id + 60000000, array_to_string(list_reverse(string_split(text, ' ')), ' ') FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** Incremental (batch-vs-corpus) NEAR-dup dedup — [[incrementalDedup]]'s
    * MinHash sibling, the steady-state ingest shape of the LSH pipeline: a
    * new batch arrives and only the docs that are not near-copies
    * (word-3-shingle Jaccard ≥ threshold) of the BASE corpus survive.
    * Same banded blocking as [[dedupMinHash]], but there is NO self-join
    * anywhere: batch bands probe the base band table one-sidedly, so the
    * cost is ∝ batch × bucket overlap, never corpus².
    *
    * THIS IS THE INDEX-LESS FALLBACK, and it is priced accordingly: it
    * re-shingles and re-hashes the ENTIRE base corpus on every call (cost
    * ∝ corpus, per batch — measured 2.28× for a 10× corpus, and ~2.5× the
    * oracle's time at sf0.1), which is the right trade exactly once — when
    * no [[buildMinHashIndex]] artifact exists yet, or for a one-shot
    * backfill where building one wouldn't amortize. The production
    * steady-state is [[incrementalDedupMinHashIndexed]] over the stored
    * index (per-batch cost ∝ batch, partition-pruned probes, ScaleBench
    * ratio 0.85 for a 10× corpus); outputs are identical by construction
    * (equivalence spec). This variant stays in the query surface as the
    * semantics oracle and the no-index path, not as the thing to deploy.
    *
    * 100 TB shape (within the one call): the base (doc_id, gs) signature
    * table and its band table are derived once and persisted within the
    * query — signatures referenced by candidate generation AND the verify
    * join; the batch side is typically tiny ⇒ AQE broadcasts its bands,
    * and the base corpus text is never read into the joins — the whole
    * decision runs on hashes. Recall follows the band construction (a
    * near-dup straddling every band is missed, like any LSH); the oracle
    * mirrors the same bands bit-for-bit so the check stays hash-exact.
    */
  def incrementalDedupMinHash(base: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.6): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ONE signature pipeline over the side-tagged union, not one per
    // input: the shingle+md5 derivation is the dominant cost and the
    // per-frame persist/job overhead doubles with separate pipelines
    // (measured ~1.5× on the whole query). The side tag — not id
    // disjointness — keeps base and batch apart downstream.
    val tagged = textCorpus(base, idCol, textCol).withColumn("side", lit(0))
      .unionByName(textCorpus(batch, idCol, textCol).withColumn("side", lit(1)))
    val hashed = withShingles(tagged)
      .withColumn("gs", expr(gsSql))
      .select("doc_id", "side", "gs")
      .persist(lvl)
    // NOT persisted, unlike dedupMinHash's band table: that one feeds a
    // self-join (both sides = the whole frame — uncached, the signature
    // folds would run twice), while here the two join sides are DISJOINT
    // side-slices whose filters push below the fold projections into the
    // cached scan — total fold work is one pass either way, so a persist
    // would only add a materialization job and cache churn.
    val bands = withMinHashBands(hashed)
      .select(col("doc_id"), col("side"),
        posexplode(array((0 until Bands).map(b => col(s"band$b")): _*))
          .as(Seq("band_idx", "band_key")))
    // no pre-verify distinct: a pair agreeing on k bands gets verified k
    // times, but the Jaccard check is cheap next to the distinct's extra
    // shuffle — `dup` dedups batch ids at the end anyway. (dedupMinHash
    // keeps ITS distinct because its verified pairs ARE the output.)
    val cand = bands.filter(col("side") === 1).as("nb")
      .join(bands.filter(col("side") === 0).as("ob"),
        col("nb.band_idx") === col("ob.band_idx") &&
          col("nb.band_key") === col("ob.band_key"))
      .select(col("nb.doc_id").as("batch_id"), col("ob.doc_id").as("base_id"))
    val dup = cand
      .join(hashed.filter(col("side") === 1).as("sa"),
        col("batch_id") === col("sa.doc_id"))
      .join(hashed.filter(col("side") === 0).as("sb"),
        col("base_id") === col("sb.doc_id"))
      .filter((size(array_intersect(col("sa.gs"), col("sb.gs"))).cast("double") /
        size(array_union(col("sa.gs"), col("sb.gs")))) >= threshold)
      .select(col("batch_id")).distinct()
    // survivors off the cached signature frame — ids only, the batch text
    // is never re-derived
    hashed.filter(col("side") === 1).select("doc_id")
      .join(dup, col("doc_id") === col("batch_id"), "left_anti")
      .select("doc_id")
  }

  /** Materialize the MinHash LSH index for `corpus` under `dir` — the
    * cross-run artifact [[incrementalDedupMinHash]]'s scaladoc describes:
    * `signatures/` holds the (doc_id, gs) shingle-hash table, `bands/` the
    * exploded (doc_id, band_idx, band_key) block keys, both parquet.
    * Both tables are DIRECTORY-PARTITIONED for probe-side pruning — the
    * [[buildAnnIndex]] layout applied to LSH: bands by (band_idx,
    * bk_bucket = first hex char of the key), signatures by sig_bucket
    * (hash of the doc id). A probe joining on the partition columns reads
    * only the directories its batch keys land in; every other directory
    * is pruned at planning time, so per-batch probe cost tracks the
    * BATCH's key set, not the index size. Rows are hash-clustered by
    * their partition columns before the write (one task ⇒ one directory
    * ⇒ files ∝ data, not ∝ writer parallelism). Built once per corpus
    * generation; every subsequent ingest batch probes it via
    * [[incrementalDedupMinHashIndexed]] without touching the base text —
    * at 100 TB the index is ~n_docs rows of hashes (signatures) +
    * 4·n_docs narrow rows (bands), orders of magnitude smaller than the
    * corpus it summarizes.
    */
  def buildMinHashIndex(corpus: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val sig = signaturesOf(corpus, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sig.withColumn("sig_bucket", sigBucket(col("doc_id")))
      .repartition(col("sig_bucket"))
      .write.mode("overwrite").partitionBy("sig_bucket")
      .parquet(s"$dir/signatures")
    bandsOf(sig)
      .repartition(col("band_idx"), col("bk_bucket"))
      .write.mode("overwrite").partitionBy("band_idx", "bk_bucket")
      .parquet(s"$dir/bands")
    sig.unpersist()
  }

  /** The (doc_id, gs) hashed-shingle signature frame for `docs` — the one
    * derivation every stored-index operation starts from. Exposed so a
    * caller orchestrating several index operations over the SAME batch
    * (probe, then append the survivors — [[StreamingIngest]]) can derive
    * it once, persist it, share it, and release it when the epoch ends,
    * instead of each operation re-shingling the batch.
    */
  def signaturesOf(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    withShingles(textCorpus(docs, idCol, textCol))
      .withColumn("gs", expr(gsSql))
      .select("doc_id", "gs")

  /** The exploded (doc_id, band_idx, band_key, bk_bucket) LSH block-key
    * frame over a [[signaturesOf]] result — the band table's row shape,
    * bucket column included.
    */
  def bandsOf(sig: DataFrame): DataFrame =
    withMinHashBands(sig)
      .select(col("doc_id"),
        posexplode(array((0 until Bands).map(b => col(s"band$b")): _*))
          .as(Seq("band_idx", "band_key")))
      .withColumn("bk_bucket", bandBucket(col("band_key")))

  /** The steady-state near-dup ingest gate over a STORED index: byte-safe
    * with [[incrementalDedupMinHash]] (same bands, same verify, identical
    * output — equivalence spec), but the base corpus is never re-shingled
    * or re-hashed — the batch probes `dir`'s band and signature tables
    * one-sidedly. Both probes ride the index's directory partitioning
    * ([[buildMinHashIndex]]): the candidate join keys on the band table's
    * (band_idx, bk_bucket) partition columns and the verify join on the
    * signature table's sig_bucket, with the BATCH side explicitly
    * broadcast — so dynamic partition pruning reads only the directories
    * the batch's own keys land in, and the index side is never shuffled
    * OR broadcast (asserted in PlanQualitySpec: the index scan must be
    * the streamed side of both joins). Per-batch cost therefore tracks
    * the batch's key set, not the index size — vs the in-query variant's
    * full re-hash. The verify is ONE streaming pass over the pruned
    * signature directories: candidate pairs carry their batch signature
    * into a broadcast join keyed on (sig_bucket, base_id) — the join
    * itself is the semi-filter on candidate ids.
    *
    * The call is EAGER about one small thing: it runs a batch-only job to
    * derive the bucket footprint (materializing the batch signature/band
    * caches as a side effect), because the static partition filter needs
    * the values at plan time. That job touches the batch, never the
    * index — its cost is the signature derivation the probe pays anyway.
    *
    * The batch-side broadcast hints are SIZE-GATED
    * ([[GateBroadcastMaxRows]]): an ingest micro-batch is always under
    * the bound and keeps the pinned plan shape, but the gate is also
    * reused where "batch" can be corpus-sized (delta curation on a
    * first run or a full re-crawl), and an unconditional hint would
    * hard-fail the 8 GB broadcast cap there. Over the bound the hints
    * drop and AQE picks the join sides from runtime stats — degrading
    * to a shuffle join instead of dying. The band-row count that makes
    * the decision is a cached-scan count (the footprint collect already
    * materialized the caller-persisted frames).
    *
    * The verify join's candB inherits the same decision, which measures
    * batch bands, not candidate fan-out — sound under the LSH regime
    * assumption that band keys are near-unique (md5 over a hashed
    * signature slice). A corpus whose docs pile onto shared band keys
    * (mass boilerplate) blows up candidate GENERATION itself —
    * quadratic pairs, the failure mode of any LSH blocker, broadcast or
    * not — and surfaces in [[minHashIndexStats]]'s hottest-band gauge
    * long before this join; the operational answer there is stop-listing
    * the hot band keys upstream, not a different join side.
    */
  def incrementalDedupMinHashIndexed(batch: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.6): DataFrame = {
    // batch signatures and bands persisted — candidate generation AND the
    // verify join read them (the same discipline as the in-query
    // variant); the bucket-footprint collect materializes both. The two
    // caches (batch-derived, never index-sized) back the returned lazy
    // frame and live until the caller's post-materialization clearCache;
    // a long-running loop should use the From variant and release its own
    // frames per epoch (the StreamingIngest discipline).
    val bSig = signaturesOf(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBands = bandsOf(bSig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    incrementalDedupMinHashIndexedFrom(bSig, bBands, indexDir, threshold)
  }

  /** The stored-LSH probe's one-row eager payload over a batch band
    * frame: the distinct (band_idx, bk_bucket) footprint (`mh_fp`, ≤
    * Bands × BandBuckets pairs) and the band-row count (`mh_n`, the
    * size gate). Exposed for the same reason as [[lmFpAgg]]: an
    * orchestrator crossJoins several probes' footprint aggregates into
    * ONE driver-blocking job.
    */
  def mhFpAgg(bBands: DataFrame): DataFrame =
    bBands
      .agg(collect_set(struct(col("band_idx"), col("bk_bucket"))).as("mh_fp"),
        count(lit(1)).as("mh_n"))

  /** [[incrementalDedupMinHashIndexed]] over a caller-derived (and
    * caller-persisted, caller-released) signature/band pair — the form
    * [[StreamingIngest]] uses so one shingling job per epoch feeds both
    * the probe and the survivor append.
    *
    * `excludeSelfId` drops SAME-ID candidates before the verify — needed
    * wherever a batch doc is a new VERSION of an indexed doc (delta
    * curation: the update
    * replaces its old self, it is not a duplicate of it). The streaming
    * gate keeps the default false: an identical re-ingest self-cancelling
    * against its own committed index rows is what makes epoch replay
    * idempotent there.
    */
  def incrementalDedupMinHashIndexedFrom(bSig: DataFrame, bBands: DataFrame,
      indexDir: String, threshold: Double = 0.6,
      excludeSelfId: Boolean = false,
      fpRow: Option[org.apache.spark.sql.Row] = None): DataFrame = {
    val spark = bSig.sparkSession
    val baseSig = readStored(spark, s"$indexDir/signatures")
    val baseBands = readStored(spark, s"$indexDir/bands")
    // STATIC partition pruning ([[pinPartitions]]): the batch's directory
    // footprint is bounded by construction (≤ Bands × BandBuckets pairs,
    // = 64 values — a driver-safe collect no matter how big the batch or
    // index is). ONE single-row aggregate ([[mhFpAgg]]) serves the footprint AND
    // the size gate (two separate collects = two sequential driver
    // barriers; fusing them halves the probe's eager-job count):
    // collect_set's merge buffer is bounded at ≤ Bands × BandBuckets
    // distinct pairs per partition, partial-agg-combined before anything
    // crosses the wire. The size gate (micro-batches keep the pinned
    // broadcast shape; a corpus-sized "batch" — delta curation, backfill
    // — drops the hints and AQE decides from runtime stats, see
    // scaladoc) reads the row count off the same row. An orchestrator
    // that fused this aggregate into its own eager job passes the row in
    // ([[curateDelta]]) and no job runs here — name-based field access,
    // so the row may carry other probes' footprint fields alongside.
    val fp = fpRow.getOrElse(mhFpAgg(bBands).collect()(0))
    val batchBuckets = fp
      .getSeq[org.apache.spark.sql.Row](fp.fieldIndex("mh_fp"))
      .map(r => (r.getInt(0), r.getInt(1)))
    val n = fpCount(fp, "mh_n")
    // the candidate join is exact on (band_idx, bk_bucket, band_key), so
    // the cross-product pin is pure pruning
    val prunedBands = pinPartitions(baseBands,
      "band_idx" -> batchBuckets.map(_._1), "bk_bucket" -> batchBuckets.map(_._2))
    val bandMatch = col("nb.band_idx") === col("ob.band_idx") &&
      col("nb.bk_bucket") === col("ob.bk_bucket") &&
      col("nb.band_key") === col("ob.band_key")
    val cand = prunedBands.as("ob").join(gateBroadcast(bBands.as("nb"), n),
        if (excludeSelfId) bandMatch && col("nb.doc_id") =!= col("ob.doc_id")
        else bandMatch)
      .select(col("nb.doc_id").as("batch_id"), col("ob.doc_id").as("base_id"))
    // attach the batch signature to each candidate pair (both tiny), then
    // verify in one pass over the pruned signature directories; multi-band
    // duplicate pairs are collapsed by the final distinct, not here — an
    // extra exchange inside the broadcast subquery costs more than the
    // ≤Bands× pair fan-in saves
    val candB = cand.join(bSig.as("sa"), col("batch_id") === col("sa.doc_id"))
      .select(col("batch_id"), col("base_id"), col("sa.gs").as("bgs"))
      .withColumn("cand_bucket", sigBucket(col("base_id")))
    val dup = baseSig.as("sb").join(gateBroadcast(candB.as("c"), n),
        col("c.cand_bucket") === col("sb.sig_bucket") &&
          col("c.base_id") === col("sb.doc_id"))
      .filter((size(array_intersect(col("c.bgs"), col("sb.gs"))).cast("double") /
        size(array_union(col("c.bgs"), col("sb.gs")))) >= threshold)
      .select(col("batch_id")).distinct()
    // the survivor read-out: batch ids anti-joined against the verified
    // duplicates. `dup` ⊆ distinct batch ids, so the band-row count that
    // gated the probe hints bounds it too — under the gate the anti join
    // is a BroadcastHashJoin (the SMJ here was two Exchange + two Sort
    // over batch-sized frames, pure stage tax on the nightly)
    bSig.select("doc_id")
      .join(gateBroadcast(dup, n), col("doc_id") === col("batch_id"), "left_anti")
      .select("doc_id")
  }

  /** Index maintenance for [[buildMinHashIndex]] — append `docs`'
    * signature and band rows to the stored index under `dir`. With
    * [[incrementalDedupMinHashIndexed]] this closes the production loop:
    * gate a batch against the index, append the SURVIVORS, and the next
    * batch's probe sees them — near-copies arriving in later batches are
    * caught without ever re-touching earlier corpus text. Both writes are
    * parquet `append` (new files only — no rewrite of the existing index;
    * at 100 TB each ingest adds files ∝ batch size). Appends land inside
    * the same (band_idx, bk_bucket) / sig_bucket directory partitions the
    * builder established, so probe-side pruning holds across generations;
    * periodic [[graft.cdc.Compaction]] folds the accumulated small files.
    */
  def appendMinHashIndex(docs: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val sig = signaturesOf(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    appendMinHashIndexFrom(sig, bandsOf(sig), dir)
    sig.unpersist()
  }

  /** [[appendMinHashIndex]] over a caller-derived signature/band pair —
    * the [[StreamingIngest]] form: the epoch's one shingling job feeds
    * this append and the probe that preceded it.
    */
  def appendMinHashIndexFrom(sig: DataFrame, bands: DataFrame,
      dir: String): Unit = {
    sig.withColumn("sig_bucket", sigBucket(col("doc_id")))
      .repartition(col("sig_bucket"))
      .write.mode("append").partitionBy("sig_bucket")
      .parquet(s"$dir/signatures")
    bands.repartition(col("band_idx"), col("bk_bucket"))
      .write.mode("append").partitionBy("band_idx", "bk_bucket")
      .parquet(s"$dir/bands")
  }

  /** Fold the small files [[appendMinHashIndex]] accumulates — the index
    * maintenance step a long-running ingest loop schedules between
    * batches: both tables rewrite through [[graft.cdc.Compaction]]'s
    * swap mechanics, keeping the builder's directory partitioning (bands
    * by (band_idx, bk_bucket), signatures by sig_bucket — each append
    * added its own small files inside those directories) and folding each
    * partition back to ∝-data file counts. Returns the (before, after)
    * file counts per table. Probes and stats are unaffected (spec'd) —
    * with one deliberate exception: exact duplicate rows are collapsed.
    * Both tables are deterministic functions of a doc's text, so a
    * duplicate can only be a REPLAYED append (an ingest epoch that failed
    * after its index write and was re-run). Replay duplicates are already
    * output-harmless to the gate (candidates and dup sets are
    * distinct-ed); compaction erases them from the stats too, making the
    * at-least-once append loop self-healing at its maintenance cadence.
    */
  def compactMinHashIndex(spark: SparkSession, dir: String): ((Long, Long), (Long, Long)) = (
    graft.cdc.Compaction.compactDir(spark, s"$dir/signatures",
      Seq("sig_bucket"), Seq("sig_bucket"), dedupRows = true),
    graft.cdc.Compaction.compactDir(spark, s"$dir/bands",
      Seq("band_idx", "bk_bucket"), Seq("band_idx", "bk_bucket"),
      dedupRows = true))

  /** Index-health gauge over a stored [[buildMinHashIndex]] artifact —
    * the numbers an operator watches between ingests: per band, how many
    * distinct block keys exist, how big the hottest bucket is, and the
    * total band rows. `max_bucket` is the one that pages someone: probe
    * cost is ∝ bucket overlap, so a bucket collapsing (everything hashing
    * together — degenerate shingles, an upstream text bug) turns the
    * one-sided probe quadratic. Two combinable groupBys over the narrow
    * band table — never touches signatures or corpus text, cheap enough
    * to run after every append.
    */
  def minHashIndexStats(spark: SparkSession, dir: String): DataFrame =
    readStored(spark, s"$dir/bands")
      .groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("bucket"))
      .groupBy(col("band_idx").cast("bigint").as("band_idx"))
      .agg(count(lit(1)).as("n_keys"),
        max(col("bucket")).as("max_bucket"),
        sum(col("bucket")).cast("bigint").as("n_rows"))

  /** Corpus ↔ stored-index consistency audit — the id-level reconciliation
    * an operator runs before trusting a [[buildMinHashIndex]] artifact
    * against the CURRENT corpus generation: per doc_id, `indexed` (in
    * both), `unindexed` (corpus doc the index has never seen — arrivals
    * since the last build/append, the gate's blind spot), `orphaned`
    * (index rows whose doc has been removed from the corpus — dead weight
    * that inflates probe buckets and, worse, can VETO a legitimately
    * re-ingestable doc as a dup of content that no longer exists).
    * Complements [[corpusDiff]] (content-level, corpus-vs-corpus) at the
    * id level, corpus-vs-index.
    *
    * `indexTable`/`indexIdCol` point the audit at ANY of the stored
    * artifacts' id-bearing tables — `signatures`/doc_id (LSH, the
    * default), `cells`/vec_id ([[buildAnnIndex]]), `codes`/vec_id
    * ([[buildPqIndex]]) — so every index in the lifecycle gets the same
    * reconciliation (the distinct() also makes the audit robust to
    * not-yet-compacted replay duplicates in an append-log table).
    *
    * 100 TB shape: the index side reads ONLY the stored table's id
    * column (columnar prune — signature arrays / vectors / packed codes
    * never leave the scan), the corpus side only its id column; the
    * decision is a full-outer join of 8-byte keys reduced to three
    * counts — map-side-combinable aggs, nothing driver-sized. Cheap
    * enough to run at every maintenance window alongside
    * [[minHashIndexStats]] / [[annIndexStats]] / [[pqIndexStats]].
    */
  def indexCoverage(corpus: DataFrame, indexDir: String,
      idCol: String = "doc_id", indexTable: String = "signatures",
      indexIdCol: String = "doc_id"): DataFrame = {
    val idx = readStored(corpus.sparkSession, s"$indexDir/$indexTable")
      .select(col(indexIdCol).as("idx_id")).distinct()
    val cur = corpus.select(col(idCol).as("cur_id")).distinct()
    idx.join(cur, col("idx_id") === col("cur_id"), "full_outer")
      .select(when(col("idx_id").isNull, lit("unindexed"))
        .when(col("cur_id").isNull, lit("orphaned"))
        .otherwise(lit("indexed")).as("status"))
      .groupBy("status").agg(count(lit(1)).as("n_docs"))
  }

  /** Rewrite the parquet table at `path` keeping only rows whose
    * `idxIdCol` appears in `curIds` ("cur_id" rows) — the shared tail of
    * every `prune*IndexTo` repair and the corpus GC. Same
    * [[graft.cdc.Compaction.swapDir]] mechanics as compaction (the old
    * generation serves readers throughout, every crash window rolls back
    * or re-runs to convergence — a prune re-run over an already-pruned
    * table is a no-op rewrite), and the builder's cluster/partition
    * layout is restated so probe-side pruning survives the repair.
    * Returns (rows before, rows after) — the difference IS the orphan
    * count, the repair metric an operator logs.
    *
    * 100 TB shape: the decision is a left-semi join of the table against
    * an id-only projection — the table's payload columns ride the
    * rewrite but never the join build side, and the id frame (even a
    * corpus-sized one) is ~3 orders smaller than its corpus; no
    * broadcast hint, AQE picks the join strategy from runtime stats.
    * Cost is one table rewrite — maintenance cadence, the same bill
    * compaction already pays, never the probe path.
    */
  private[llm] def pruneIndexTable(spark: SparkSession, path: String,
      idxIdCol: String, curIds: DataFrame,
      clusterCols: Seq[String], partitionCols: Seq[String]): (Long, Long) = {
    graft.cdc.Compaction.recoverDir(path)
    // parquet row-count metadata makes both counts footer-reads, not scans
    val before = spark.read.parquet(path).count()
    graft.cdc.Compaction.swapDir(path) { tmp =>
      val kept = spark.read.parquet(path)
        .join(curIds, col(idxIdCol) === col("cur_id"), "left_semi")
      val clustered =
        if (clusterCols.nonEmpty) kept.repartition(clusterCols.map(col): _*)
        else kept.coalesce(spark.sparkContext.defaultParallelism)
      val w = clustered.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp)
    }
    (before, spark.read.parquet(path).count())
  }

  /** The REPAIR [[indexCoverage]]'s `orphaned` class calls for — drop
    * every stored-LSH row whose doc has left the corpus. Detection
    * without this is worse than cosmetic: an orphaned signature keeps
    * VETOING re-ingest of content that no longer exists, so a
    * removed-then-revised document is permanently blocked by its own
    * ghost (spec'd: the revision gates through after the prune).
    * Both tables rewrite through the compaction swap with the builder's
    * directory partitioning restated; probes over surviving ids are
    * output-identical (equivalence spec). Returns the signature and band
    * (before, after) row counts.
    */
  def pruneMinHashIndexTo(corpus: DataFrame, dir: String,
      idCol: String = "doc_id"): ((Long, Long), (Long, Long)) = {
    val spark = corpus.sparkSession
    // id-only projection persisted: both table rewrites consume it
    val cur = corpus.select(col(idCol).as("cur_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try (
      pruneIndexTable(spark, s"$dir/signatures", "doc_id", cur,
        Seq("sig_bucket"), Seq("sig_bucket")),
      pruneIndexTable(spark, s"$dir/bands", "doc_id", cur,
        Seq("band_idx", "bk_bucket"), Seq("band_idx", "bk_bucket")))
    finally { cur.unpersist(); () }
  }

  /** [[pruneMinHashIndexTo]] for the stored ANN cell table. */
  def pruneAnnIndexTo(emb: DataFrame, dir: String,
      idCol: String = "vec_id"): (Long, Long) =
    pruneIndexTable(emb.sparkSession, s"$dir/cells", "vec_id",
      emb.select(col(idCol).as("cur_id")).distinct(),
      Seq("label"), Seq("label"))

  /** [[pruneMinHashIndexTo]] for the stored PQ codes table. The frozen
    * codebook is untouched: it is a trained artifact, not per-vector
    * state — only [[rebuildPqIndex]] replaces it.
    */
  def prunePqIndexTo(emb: DataFrame, dir: String,
      idCol: String = "vec_id"): (Long, Long) =
    pruneIndexTable(emb.sparkSession, s"$dir/codes", "vec_id",
      emb.select(col(idCol).as("cur_id")).distinct(),
      Seq("label"), Seq("label"))

  /** Apply [[corpusDiff]]'s `removed` class to a STORED corpus — the
    * dataset-versioning maintenance pass (takedowns, recrawl shrinkage)
    * that round 11 could only detect: rewrite the admitted-corpus
    * parquet keeping exactly the rows whose id is still in `current`.
    * The decision is id-level (a changed doc is an update, handled by
    * ingest — only ABSENCE removes). An epoch-partitioned corpus (the
    * [[StreamingIngest]] sink layout) keeps its epoch directories:
    * partition columns are discovered from the stored schema and
    * restated on the rewrite. Returns (rows before, rows after).
    */
  def applyCorpusRemovals(spark: SparkSession, corpusDir: String,
      current: DataFrame, idCol: String = "doc_id"): (Long, Long) = {
    // recovery before the schema read: a GC re-run after a crash inside
    // the previous swap must see the rolled-back (or rolled-forward)
    // directory, not the absent mid-swap state
    graft.cdc.Compaction.recoverDir(corpusDir)
    val parts =
      if (spark.read.parquet(corpusDir).columns.contains("epoch"))
        Seq("epoch")
      else Seq.empty
    pruneIndexTable(spark, corpusDir, idCol,
      current.select(col(idCol).as("cur_id")).distinct(), parts, parts)
  }

  /** Reproducible as-of read of the epoch-partitioned stored corpus —
    * dataset versioning's READ side, completing the family
    * ([[corpusDiff]] detects drift, [[applyCorpusRemovals]]/[[corpusGc]]
    * rewrite): "the corpus a given training run saw" is every row
    * admitted at or before `epoch`. The epoch column is the ingest
    * loop's partition key ([[graft.llm.StreamingIngest]]'s sink layout),
    * so the bound is PURE partition pruning — later epoch directories
    * are never opened, and reproducing generation E costs the size of
    * ≤E, not of the table's full history. Crash-recovered first, like
    * every stored-artifact reader.
    */
  def readCorpusAsOf(spark: SparkSession, corpusDir: String,
      epoch: Long): DataFrame = {
    graft.cdc.Compaction.recoverDir(corpusDir)
    spark.read.parquet(corpusDir).filter(col("epoch") <= epoch)
  }

  /** The composed GC pass a nightly pipeline runs after [[corpusDiff]]
    * reports removals: delete the removed ids from the stored corpus,
    * then prune every stored index to the surviving generation so the
    * audits read clean and no ghost can veto a re-ingest. Corpus first,
    * deliberately: a crash between the steps leaves index orphans the
    * coverage audits still DETECT (over-report), and a re-run converges
    * — the reverse order could leave a corpus row whose index rows are
    * gone, which the audits read as `unindexed` (a gate blind spot)
    * rather than the harmless `orphaned`. Every step is individually
    * crash-recoverable via the swap mechanics.
    */
  def corpusGc(spark: SparkSession, current: DataFrame, corpusDir: String,
      mhIndexDir: Option[String] = None, annIndexDir: Option[String] = None,
      pqIndexDir: Option[String] = None,
      idCol: String = "doc_id"): (Long, Long) = {
    val res = applyCorpusRemovals(spark, corpusDir, current, idCol)
    mhIndexDir.foreach(pruneMinHashIndexTo(current, _, idCol))
    annIndexDir.foreach(pruneAnnIndexTo(current, _, idCol))
    pqIndexDir.foreach(prunePqIndexTo(current, _, idCol))
    res
  }

  /** Blocking-recall gauge for the banded-LSH dedup family — the
    * [[annRecall]] pattern applied to near-dup detection: on a
    * deterministic id-subsample (`doc_id % sampleMod = 0`, small enough
    * that all-pairs truth is computable), compare the TRUE near-dup pairs
    * (exact shingle-hash Jaccard ≥ threshold over every pair — a bounded
    * broadcast cross join) against the pairs the band blocking surfaces.
    * Output is one row (n_true, n_hit, recall): recall < 1 quantifies the
    * pairs that straddle every band — the known LSH miss mode — measured
    * where a pipeline operator reads it, instead of inferred from
    * survivor counts. At scale the gauge runs on the subsample only; the
    * subsample size is `corpus/sampleMod`, dialed so the quadratic truth
    * side stays bounded while the banding under test is the production
    * construction bit-for-bit.
    */
  def dedupRecall(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.6,
      sampleMod: Long = 20L): DataFrame = {
    val sub = textCorpus(corpus, idCol, textCol)
      .filter(col("doc_id") % sampleMod === 0)
    val (hashed, bandPairs) = minHashCandidates(sub, "doc_id", "text")
    val truth = hashed.as("a")
      .crossJoin(broadcast(hashed.as("b")))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (size(array_intersect(col("a.gs"), col("b.gs"))).cast("double") /
          size(array_union(col("a.gs"), col("b.gs")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hit = truth.join(
      bandPairs.select(col("id_a").as("ca"), col("id_b").as("cb")),
      col("id_a") === col("ca") && col("id_b") === col("cb"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true")).as("recall"))
  }

  /** Integer domain weight for a `srcN` source name: N % 3 + 1 (∈ {1,2,3}).
    * A deterministic stand-in for the per-domain mixture weights a real
    * training build reads from config — integer so the quota arithmetic is
    * exact on every engine.
    */
  def mixWeightSql(sourceCol: String): String =
    s"cast(substr($sourceCol, 4) as int) % 3 + 1"

  /** Domain-mixture resampling — the "data mixing" step of a pretraining
    * build: given per-domain integer weights w_s, emit the LARGEST corpus
    * subset whose domain proportions are exactly w_s : w_t : …. The
    * feasible scale is t = min_s(n_s div w_s) (the most constrained domain
    * caps everyone), each domain keeps its quota k_s = w_s·t, and WHICH
    * docs fill a quota is the salted-hash-rank rule shared with
    * [[sampleByHash]]/[[sampleStratified]] — reproducible on any engine or
    * cluster size, no RNG.
    *
    * Scale: domain counts are a map-side-combinable groupBy (one row per
    * domain); the global min is an agg over that tiny frame, broadcast
    * back; the only per-doc work is one hash + one bounded top-k per
    * domain. Few huge domains ⇒ a rank window would skew like any
    * low-cardinality window, so whenever every quota fits a heap
    * (max k_s ≤ heapMaxK — read off the collected per-domain quota frame,
    * one tiny row per domain, the CC loop's driver-scalar discipline) the
    * bounded-buffer [[graft.functions.MinKAgg]] runs instead: heaps
    * combine map-side, at most k_s rows per domain and partition cross
    * the wire. Past the threshold (quotas are proportional, so a huge
    * corpus resample can exceed any heap) it falls back to the bucketed
    * two-level rank ([[budgetCum]]'s scheme — in-bucket row_number plus
    * per-bucket count offsets, NEVER a domain-wide per-doc window, so no
    * domain ever serializes onto one task); outputs are identical
    * row-for-row either way (equivalence spec), `heapMaxK = 0` forces
    * the two-level rank path.
    *
    * Contract notes: (1) rows with a NULL id are dropped up-front on both
    * paths — see [[sampleStratified]]'s identical rule and rationale.
    * (2) When `heapMaxK > 0` this builder is NOT fully lazy: picking the
    * heap-vs-window path needs max(k_s), so the per-domain quota frame
    * (one tiny row per domain — the CC loop's driver-scalar discipline)
    * is counted and collected AT CONSTRUCTION TIME, before the caller
    * acts on the result; the path decision therefore snapshots the input
    * as of this call. `heapMaxK = 0` restores a fully-lazy plan.
    */
  def domainMix(corpus: DataFrame, sourceCol: String = "source",
      idCol: String = "doc_id",
      weights: Map[String, Long] = Map.empty,
      heapMaxK: Int = SamplerHeapMaxK): DataFrame = {
    val spark = corpus.sparkSession
    val base = GraftExtensions.register(corpus).filter(col(idCol).isNotNull).select(
      col(idCol).as("doc_id"), col(sourceCol).as("source"))
    // explicit weight map (the library path — a real build reads these
    // from config; unlisted domains drop out via the inner join) or the
    // srcN-name-derived default the harness oracle mirrors
    val docs = (if (weights.nonEmpty) {
      import spark.implicits._
      base.join(broadcast(weights.toSeq.toDF("source", "w")), Seq("source"))
    } else base.withColumn("w", expr(mixWeightSql("source")).cast("bigint")))
      .withColumn("pri", expr(h56("concat('mix|', cast(doc_id as string))")))
    val quotas = docs.groupBy("source", "w").agg(count(lit(1)).as("n_s"))
      .withColumn("cap", expr("n_s div w"))
    val t = quotas.agg(min("cap").as("t"))
    val k = quotas.crossJoin(broadcast(t))
      .select(col("source"), col("w"), (col("w") * col("t")).as("k_s"))
    val kRows = if (heapMaxK > 0) k.collect() else Array.empty[org.apache.spark.sql.Row]
    val maxK = if (kRows.isEmpty) Long.MaxValue else kRows.map(_.getLong(2)).max
    if (maxK <= heapMaxK && isIntegralColumn(base, "doc_id")) {
      val idType = base.schema("doc_id").dataType
      // quotas were just collected — rebuild the tiny (source, w, k_s)
      // frame locally rather than recomputing the count agg for the join
      val kLocal = spark.createDataFrame(
        java.util.Arrays.asList(kRows: _*), k.schema)
      docs.groupBy("source")
        .agg(graft.functions.MinKAgg.udf(maxK.toInt max 1)(
          col("pri"), col("doc_id").cast("bigint")).as("mins"))
        .select(col("source"), posexplode(col("mins")).as(Seq("i", "pv")))
        .join(broadcast(kLocal), Seq("source"))
        .filter(col("i") < col("k_s"))
        .select(col("source"), col("pv._2").cast(idType).as("doc_id"),
          col("w"), (col("i") + 1).cast("bigint").as("rnk"), col("k_s"))
    } else {
      // large-quota path: the per-domain rank via the SAME bucketed
      // two-level scheme as [[budgetCum]]/[[globalShuffle]] — a plain
      // Window.partitionBy(source) would serialize a possibly
      // corpus-sized domain onto one task (source is LOW-cardinality by
      // construction: domains number in the dozens, documents in the
      // billions). The hash priority's top [[BudgetBucketBits]] bits form
      // balanced pre-sorted range buckets; row_number runs inside
      // (source, bucket) — parallel — and per-bucket COUNTS (domains × 64
      // one-row aggregates) take the running offset that makes ranks
      // global to the domain. Bucket = pri's top bits ⇒ cross-bucket
      // order IS (pri, doc_id) order, so the stitched ranks equal the
      // single-window form row-for-row (equivalence spec'd against the
      // heap path, which already equals the old window form). NOT
      // persisted: the frame is a narrow projection over the corpus
      // scan with no release path from this lazy builder (an unbounded
      // pin in a long-lived session), and rescanning it for the tiny
      // offsets aggregate is cheaper than writing a corpus-sized cache.
      val bdocs = docs
        .withColumn("bk", expr(s"pri div ${1L << (56 - BudgetBucketBits)}"))
      val wIn = Window.partitionBy("source", "bk").orderBy(col("pri"), col("doc_id"))
      val wOff = Window.partitionBy("source").orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bdocs.groupBy("source", "bk").agg(count(lit(1)).as("n_b"))
        .withColumn("off", coalesce(sum("n_b").over(wOff), lit(0L)))
        .select("source", "bk", "off")
      bdocs.withColumn("rnk_in", row_number().over(wIn).cast("bigint"))
        .join(broadcast(offsets), Seq("source", "bk"))
        .withColumn("rnk", col("off") + col("rnk_in"))
        .join(broadcast(k.select("source", "k_s")), Seq("source"))
        .filter(col("rnk") <= col("k_s"))
        .select("source", "doc_id", "w", "rnk", "k_s")
    }
  }

  /** Per-mille domain repeat weight for a `srcN` source name:
    * (N % 4) · 750 + 500 (∈ {500, 1250, 2000, 2750}) — a deterministic
    * stand-in spanning the interesting regimes (fractional-only keep,
    * 1¼ epochs, exactly 2, 2¾) so the harness exercises both the full-copy
    * and the fractional-copy arms. Integer per-mille keeps the arithmetic
    * exact on every engine.
    */
  def upsampleWeightSql(sourceCol: String): String =
    s"(cast(substr($sourceCol, 4) as int) % 4) * 750 + 500"

  /** Domain-mixture upsampling — the other half of data mixing:
    * [[domainMix]] DOWN-samples to the exact feasible ratio; a real
    * pretraining mixture also REPEATS under-weighted domains (Wikipedia at
    * 3 epochs while web crawl runs fractional). Weights are per-mille
    * multiplicities: a doc in a domain weighted `w`‰ emits `w div 1000`
    * full copies plus one more iff its salted 56-bit hash `% 1000 < w %
    * 1000` — expected multiplicity exactly w/1000, decided per doc with no
    * RNG (the [[sampleByHash]] rule), so reruns, engines, and cluster
    * sizes agree row-for-row. Output one row per (doc, copy) with the
    * 1-based `epoch` index, so downstream shuffling/packing treats copies
    * as distinct rows.
    *
    * Scale: the explicit weight map rides a broadcast join (domain count ≪
    * corpus); everything else — hash, copy count, `sequence` explode — is
    * a narrow generator projection fused into the scan stage. NO shuffle
    * anywhere; output size is Σ_s n_s·w_s/1000 by construction, linear in
    * the corpus at fixed weights.
    */
  def domainUpsample(corpus: DataFrame, sourceCol: String = "source",
      idCol: String = "doc_id",
      weightsPermille: Map[String, Long] = Map.empty): DataFrame = {
    val spark = corpus.sparkSession
    val base = GraftExtensions.register(corpus).filter(col(idCol).isNotNull).select(
      col(idCol).as("doc_id"), col(sourceCol).as("source"))
    val weighted = if (weightsPermille.nonEmpty) {
      import spark.implicits._
      base.join(
        broadcast(weightsPermille.toSeq.toDF("source", "w_pm")), Seq("source"))
    } else base.withColumn("w_pm",
      expr(upsampleWeightSql("source")).cast("bigint"))
    weighted
      .withColumn("n_copies", expr("w_pm div 1000") +
        when(expr(s"${h56("concat('up|', cast(doc_id as string))")} % 1000") <
          col("w_pm") % 1000, 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("source"), col("doc_id"), col("w_pm"), col("n_copies"),
        explode(expr("sequence(1L, n_copies)")).as("epoch"))
  }

  /** Harness default per-domain TOKEN budget for a `srcN` source name:
    * (N % 4 + 1) · 400 (∈ {400, 800, 1200, 1600} tokens) — spans strict
    * prefixes at every SF plus the keeps-everything boundary (a small-SF
    * domain whose total mass sits under its budget), so both arms of the
    * prefix rule get exercised. Integer tokens keep the running sums
    * exact on every engine.
    */
  def budgetSql(sourceCol: String): String =
    s"(cast(substr($sourceCol, 4) as int) % 4 + 1) * 400"

  /** Bucket bits for [[sampleByTokenBudget]]'s per-domain prefix sum —
    * the [[ShuffleBucketBits]] trick applied inside each domain: 64
    * hash-range buckets per domain bound the serial work at
    * domains × 64 one-row aggregates.
    */
  val BudgetBucketBits = 6

  /** Token-budget domain sampling — the unit real data recipes are
    * written in: a mixture spec says "30 B tokens of web, 3 B of
    * wikipedia", not doc counts (docs vary 100× in length, so a doc
    * quota under- or over-shoots the training mass). Per domain, keep
    * the MAXIMAL PREFIX of the salted-hash order (the
    * [[sampleByHash]]/[[domainMix]] rule — reproducible on any engine,
    * cluster size, or rerun, no RNG) whose cumulative whitespace-token
    * count stays within the domain's budget: a doc survives iff its
    * inclusive running sum ≤ B_s, so the selection never exceeds the
    * budget and is a true prefix (no knapsack cherry-picking — the
    * doc that would cross the line and everything after it drop).
    * Output per kept doc: its token count and running total — the
    * manifest a mixture builder audits against the recipe.
    *
    * Scale: the per-domain running sum is the [[packSequences]] trap
    * keyed by a LOW-cardinality column — `Window.partitionBy(source)`
    * would serialize each (possibly corpus-sized) domain onto one task.
    * Same two-level cure as [[globalShuffle]], nested per domain: the
    * hash priority's top [[BudgetBucketBits]] bits form balanced
    * pre-sorted range buckets, the cumsum runs inside (source, bucket)
    * — parallel — and per-bucket totals (domains × 64 one-row
    * aggregates) take the running offset that makes the sums global to
    * the domain, broadcast back. Budgets ride a broadcast join
    * (explicit map; unlisted domains drop out, the [[domainMix]]
    * contract) or derive in-row from the harness naming rule.
    */
  /** The budget family's shared derivation: per doc its domain, token
    * count, budget `b`, and the domain-global running token sum
    * `cum_toks` in salted-hash order — via the bucketed two-level
    * prefix sum (see [[sampleByTokenBudget]]'s scaladoc for the shape
    * argument). The returned frame backs a persisted (ids + counts
    * only) cache read by both window branches.
    */
  private def budgetCum(corpus: DataFrame, sourceCol: String,
      idCol: String, textCol: String,
      budgets: Map[String, Long],
      tokenCountExpr: Option[String] = None): DataFrame = {
    val spark = corpus.sparkSession
    val base = GraftExtensions.register(corpus).filter(col(idCol).isNotNull)
      .select(col(sourceCol).as("source"), col(idCol).as("doc_id"),
        expr(tokenCountExpr.getOrElse(s"size(split($textCol, ' '))"))
          .cast("bigint").as("n_toks"))
      .withColumn("pri", expr(h56("concat('budget|', cast(doc_id as string))")))
    val docs = (if (budgets.nonEmpty) {
      import spark.implicits._
      base.join(broadcast(budgets.toSeq.toDF("source", "b")), Seq("source"))
    } else base.withColumn("b", expr(budgetSql("source")).cast("bigint")))
      // both the in-bucket cumsum and the bucket-totals branch read this
      // frame — persist it (ids + counts only, text never cached) or the
      // corpus gets scanned, tokenized and hashed twice (the packSequences
      // discipline). Bucket = pri's top bits ⇒ bucket order IS (pri, id)
      // order across buckets, so the stitched sums equal one global
      // per-domain cumsum.
      .withColumn("bk", expr(s"pri div ${1L << (56 - BudgetBucketBits)}"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wIn = Window.partitionBy("source", "bk").orderBy(col("pri"), col("doc_id"))
    val within = docs.withColumn("cum_in", sum("n_toks").over(wIn))
    val wOff = Window.partitionBy("source").orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy("source", "bk").agg(sum("n_toks").as("t_b"))
      .withColumn("off", coalesce(sum("t_b").over(wOff), lit(0L)))
      .select("source", "bk", "off")
    within.join(broadcast(offsets), Seq("source", "bk"))
      .withColumn("cum_toks", col("off") + col("cum_in"))
      .select(col("source"), col("doc_id"), col("n_toks"), col("b"),
        col("cum_toks"))
  }

  def sampleByTokenBudget(corpus: DataFrame, sourceCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text",
      budgets: Map[String, Long] = Map.empty,
      tokenCountExpr: Option[String] = None): DataFrame =
    budgetCum(corpus, sourceCol, idCol, textCol, budgets, tokenCountExpr)
      .filter(col("cum_toks") <= col("b"))
      .select(col("source"), col("doc_id"), col("n_toks"), col("cum_toks"))

  /** Harness default per-domain token budget for [[upsampleToTokenBudget]]:
    * (N % 4 + 1) · 5000 — sized so the harness exercises BOTH regimes
    * (domains hold ~1.4k tokens at sf0.001/0.01 ⇒ 3–14 full epochs;
    * ~13.5k at sf0.1 ⇒ the smallest budgets are prefix-only while the
    * larger ones carry 1–2 full epochs plus a remainder).
    */
  def upBudgetSql(sourceCol: String): String =
    s"(cast(substr($sourceCol, 4) as int) % 4 + 1) * 5000"

  /** Token-budget domain UPSAMPLING — [[sampleByTokenBudget]]'s other
    * direction, and the epoching rule real recipes use for small
    * domains (wikipedia at 3 epochs while web runs fractional — but
    * specified in TOKENS): fill each domain's budget by repeating its
    * docs in cyclic salted-hash order until the running token total
    * would cross the budget. Closed form per doc — the doc's epoch-e
    * copy has global running sum (e−1)·T_s + cum(d), so it survives
    * iff e ≤ B_s div T_s (a full epoch) or e = k+1 ∧ cum(d) ≤
    * B_s mod T_s (the remainder prefix — the SAME prefix law as the
    * sampler, applied to the tail epoch). One row per (doc, epoch),
    * 1-based epochs, the [[domainUpsample]] output convention so
    * downstream shuffling/packing treats copies as distinct rows.
    *
    * Scale: the [[budgetCum]] bucketed prefix sum plus ONE tiny
    * per-domain total (broadcast back) and a generator explode —
    * output ∝ Σ budgets / avg doc length by construction, independent
    * of corpus size for fixed budgets.
    */
  def upsampleToTokenBudget(corpus: DataFrame, sourceCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text",
      budgets: Map[String, Long] = Map.empty,
      tokenCountExpr: Option[String] = None): DataFrame = {
    val cum0 = budgetCum(corpus, sourceCol, idCol, textCol, budgets,
      tokenCountExpr)
    val cum = if (budgets.nonEmpty) cum0
      else cum0.withColumn("b", expr(upBudgetSql("source")).cast("bigint"))
    val totals = cum.groupBy("source").agg(sum("n_toks").as("t_s"))
    cum.join(broadcast(totals), Seq("source"))
      .withColumn("n_copies", expr("b div t_s") +
        when(col("cum_toks") <= col("b") % col("t_s"), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("source"), col("doc_id"), col("n_toks"),
        explode(expr("sequence(1L, n_copies)")).as("epoch"))
  }

  /** Output shard count for [[globalShuffle]]. */
  val ShuffleShards = 8

  /** Deterministic global training-order shuffle + shard assignment — the
    * step that turns a curated corpus into shuffled training shards: every
    * doc gets a salted 56-bit hash priority (a reproducible pseudo-random
    * permutation — same order on any engine, cluster size, or rerun), a
    * global position `idx` in that order, and a round-robin shard
    * (`idx % shards`) with its in-shard position (`idx div shards`) —
    * shard sizes balanced to ±1 by construction, each shard preserving
    * the global order, which is what epoch-deterministic data loaders
    * need.
    *
    * The global rank is the [[packSequences]] scale trap again — a naive
    * `Window.orderBy(pri)` serializes the corpus onto one partition. Same
    * cure, keyed differently: the hash priority is uniform on [0, 2^56),
    * so its top [[ShuffleBucketBits]] bits form balanced pre-sorted range
    * buckets "for free" (no sampling pass, unlike range partitioning);
    * rank inside each bucket (parallel window), then bucket COUNTS — one
    * tiny row each — get the running-sum offset that makes ranks global.
    */
  val ShuffleBucketBits = 10

  def globalShuffle(corpus: DataFrame, shards: Int = ShuffleShards,
      idCol: String = "doc_id"): DataFrame = {
    // persisted like packSequences' shard frame: both the in-bucket rank
    // and the bucket-counts branch read it — without the cache the corpus
    // is scanned and md5-hashed twice (the dominant per-row cost here)
    val prid = GraftExtensions.register(corpus).select(col(idCol).as("doc_id"))
      .withColumn("pri", expr(h56("concat('shuffle|', cast(doc_id as string))")))
      .withColumn("bucket", expr(s"pri div ${1L << (56 - ShuffleBucketBits)}"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wIn = Window.partitionBy("bucket").orderBy(col("pri"), col("doc_id"))
    val within = prid.withColumn("r_in", row_number().over(wIn).cast("bigint"))
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = prid.groupBy("bucket").agg(count(lit(1)).as("n_b"))
      .withColumn("bucket_off", coalesce(sum("n_b").over(wOff), lit(0L)))
      .select("bucket", "bucket_off")
    within.join(broadcast(offsets), Seq("bucket"))
      .withColumn("idx", col("bucket_off") + col("r_in") - 1)
      .select(col("doc_id"), col("pri"), col("idx"),
        (col("idx") % shards).as("shard"),
        expr(s"idx div $shards").as("pos"))
  }

  /** Materialize [[globalShuffle]] into per-shard parquet — the training
    * shards a data loader actually mounts: one `shard=K/` directory per
    * shard, rows inside each shard laid down in `pos` order (epoch order),
    * every payload column carried along. One shuffle (partition by shard)
    * + an in-partition sort; no global sort, no single-task funnel.
    */
  def writeTrainingShards(corpus: DataFrame, path: String,
      shards: Int = ShuffleShards, idCol: String = "doc_id"): Unit =
    globalShuffle(corpus, shards, idCol)
      .select("doc_id", "shard", "pos")
      .join(corpus.withColumnRenamed(idCol, "doc_id"), Seq("doc_id"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** Window length for [[dedupSpans]] (tokens). */
  val SpanWindow = 10

  /** Exact substring-span dedup — the k-gram-fingerprint approximation of
    * suffix-array dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): hash every [[SpanWindow]]-token window
    * (stride 1) and flag the windows whose hash occurs ≥2 times
    * corpus-wide, within-doc repeats included. Where the minhash family
    * answers "are these documents near-copies?", this answers "which exact
    * SPANS are duplicated?" — the signal used to cut repeated boilerplate
    * runs out of otherwise-unique documents.
    *
    * Scale: the window table is one row per token (the same volume class
    * as [[decontaminate]]'s exploded shingles), the groupBy is a
    * map-side-combinable count on the 56-bit hash, and the join back
    * touches only duplicated hashes — output is proportional to the
    * duplicated mass, not the corpus. Docs shorter than the window get
    * one whole-doc window (the [[withShingles]] convention).
    */
  /** The (doc_id, pos, h) window-fingerprint table both span surfaces
    * derive from: every [[SpanWindow]]-token window (stride 1) hashed
    * in-row. One row per token — the [[decontaminate]] volume class.
    */
  private def spanWindows(corpus: DataFrame, idCol: String,
      textCol: String, window: Int): DataFrame =
    // [[coresWide]]: hashing every sliding window is the spans family's
    // dominant per-row cost and fuses into the corpus scan's stage
    coresWide(textCorpus(corpus, idCol, textCol), Seq("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, greatest(size(toks)-${window - 1}, 1)), " +
          s"i -> ${h56(s"concat_ws(' ', slice(toks, i, $window))")})"))
        .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).cast("bigint").as("pos"), col("h"))

  def dedupSpans(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = SpanWindow): DataFrame = {
    // persisted: the window table feeds BOTH the duplicate-count agg and
    // the join back — without the cache the corpus is re-tokenized and
    // every window re-hashed twice (the dominant per-row cost here; the
    // cached frame is (doc_id, pos, h) only, text never cached; exchange
    // reuse does NOT cover the pair — the count's partial aggregation
    // sits below its exchange, so the two exchange inputs differ). At
    // 100 TB this is the materialized fingerprint table a span-dedup
    // pipeline keeps anyway — the same discipline as minHashCandidates'
    // hashed frame. The count stays a combinable AGGREGATE here (not a
    // window): the gauge must survive a mega-duplicated boilerplate span
    // whose occurrences would serialize one window partition.
    val wins = spanWindows(corpus, idCol, textCol, window)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = wins.groupBy("h").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    wins.join(dup, Seq("h")).select("doc_id", "pos", "h", "n_occ")
  }

  /** The apply step of [[dedupSpans]] — Lee-et-al semantics: keep the
    * FIRST occurrence of every duplicated window (rank by (doc_id, pos)
    * within each hash — deterministic, engine-agnostic), cut the tokens
    * of every later occurrence, and rebuild each doc's text from the
    * surviving tokens. Overlapping cut windows merge naturally through
    * the per-token coverage test. Output: the cleaned corpus plus how
    * many tokens were cut.
    *
    * Scale: the rank is a window over the duplicated hashes only; the
    * cut list per doc is collected once (bounded by the doc's own window
    * count) and the token filter is a per-row higher-order function —
    * no shuffle touches the text until the final join back, which
    * carries (doc_id, cut positions) only.
    */
  def dedupSpansApply(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = SpanWindow): DataFrame = {
    // the apply needs NO duplicate-count join: a window is a cut window
    // iff it is the 2nd+ occurrence of its hash, and `occ ≥ 2` under the
    // per-hash rank already implies `n_occ ≥ 2` — the rank alone decides.
    // So the fingerprint table has ONE consumer chain (nothing persisted,
    // no cache write), shuffles ONCE (the rank's exchange on h), and the
    // count aggregate + join of the report form drop out entirely
    // (restricted-run A/B at matched REPS=5: 1.44 → 1.32 s; in-suite
    // quiet median in bench_detail.json). Skew exposure is unchanged
    // from the previous form — its rank window already co-located every
    // occurrence of a mega-duplicated span; the REPORT gauge keeps the
    // combinable count for exactly that tail.
    val cuts = spanWindows(corpus, idCol, textCol, window)
      .withColumn("occ", row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "pos")))
      .filter(col("occ") >= 2)
      .groupBy("doc_id").agg(collect_list(col("pos")).as("cut_pos"))
    textCorpus(corpus, idCol, textCol)
      .withColumn("toks", split(col("text"), " "))
      .join(cuts, Seq("doc_id"), "left")
      // token index j is 0-based; window positions are 1-based
      .withColumn("keep_toks", expr(
        s"CASE WHEN cut_pos IS NULL THEN toks ELSE " +
          s"filter(toks, (t, j) -> NOT exists(cut_pos, p -> j+1 >= p AND j+1 <= p+${window - 1})) END"))
      .select(col("doc_id"),
        concat_ws(" ", col("keep_toks")).as("text_clean"),
        (size(col("toks")) - size(col("keep_toks"))).cast("bigint").as("n_tokens_cut"))
  }

  /** Sequence packing — the last step of a pretraining data build: the
    * corpus is one long token stream (docs concatenated in deterministic
    * doc_id order) chunked into fixed `budget`-token training sequences,
    * doc boundaries ignored (GPT-style packing). Output per doc: its
    * global token offset and the first/last sequence index it lands in —
    * everything a packer needs to materialize sequence shards.
    *
    * The core is a corpus-global prefix sum, which a naive
    * `Window.orderBy(doc_id)` would serialize onto ONE partition — the
    * classic scale trap. This is the standard two-level distributed
    * prefix sum instead: (1) cumsum inside doc_id-range shards (a
    * partitioned window, parallel), (2) per-shard totals — one tiny row
    * per shard — get their own running sum and broadcast back as each
    * shard's global offset. At 100 TB the only serial work is the
    * shard-total window, `corpus/shardSize` rows; `shardSize` dials that
    * (and a third level nests the same trick if ever needed).
    *
    * Token counts are whitespace tokens ([[TextAnalysis.tokenCount]]'s
    * `ws_tokens`), exact integers — both engines agree bit-for-bit.
    */
  /** Sliding-window document chunking — the pre-tokenization step every
    * long-context pipeline runs before packing: each document splits into
    * `window`-token chunks starting every `window - overlap` tokens, so
    * consecutive chunks share `overlap` tokens of context; a document at
    * or under the window emits exactly one chunk. One narrow generator
    * projection (tokens → chunk-start sequence → posexplode → slice), no
    * shuffle, no state — at 100 TB it pipelines inside the scan stage and
    * output size is corpus × (1 + overlap/stride) by construction.
    * Chunk-count arithmetic is pure integers, identical in both engines.
    */
  def chunkDocs(corpus: DataFrame, window: Int = 64, overlap: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // negative overlap would make stride > window: token (window+1) of
    // every long doc lands in NO chunk — silent data loss from an
    // operator documented as full-coverage sliding windows
    require(overlap >= 0 && overlap < window,
      "overlap must be in [0, window)")
    val stride = window - overlap
    textCorpus(corpus, idCol, textCol)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")).cast("bigint"))
      .withColumn("n_chunks",
        expr(s"greatest((n - $window + $stride - 1) div $stride + 1, 1)"))
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(expr("sequence(0, n_chunks - 1)")).as(Seq("chunk_idx", "k")))
      .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        expr(s"array_join(slice(toks, k * $stride + 1, $window), ' ')").as("chunk"),
        expr(s"size(slice(toks, k * $stride + 1, $window))").cast("bigint").as("n_tokens"))
  }

  def packSequences(corpus: DataFrame, budget: Int = 2048,
      shardSize: Long = 1000L, idCol: String = "doc_id",
      textCol: String = "text",
      tokenCountExpr: Option[String] = None): DataFrame = {
    // tokenCountExpr makes the packer TOKENIZER-CONSISTENT: real budgets
    // are tokenizer tokens, not whitespace splits — pass a column a
    // tokenizer produced (e.g. [[bpeApplyStored]]'s n_tokens joined onto
    // the corpus) or any SQL expression over the corpus row. The default
    // keeps the historical whitespace count byte-identical. One narrow
    // projection either way — the two-level prefix-sum shape is
    // count-source-agnostic.
    val toks = corpus.select(col(idCol).as("doc_id"),
      expr(tokenCountExpr.getOrElse(s"size(split($textCol, ' '))"))
        .cast("bigint").as("n_tokens"))
    // both the window branch and the shard-totals branch read this frame —
    // persist it (ids + counts only, text never cached) or the corpus gets
    // scanned and tokenized twice
    val sharded = toks.withColumn("shard", expr(s"doc_id div $shardSize"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wIn = Window.partitionBy("shard").orderBy("doc_id")
    val within = sharded.withColumn("cum", sum("n_tokens").over(wIn))
    val wShard = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy("shard")
      .agg(sum("n_tokens").as("shard_total"))
      .withColumn("shard_off", coalesce(sum("shard_total").over(wShard), lit(0L)))
      .select("shard", "shard_off")
    within.join(broadcast(offsets), Seq("shard"))
      .withColumn("start_off", col("shard_off") + col("cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        expr(s"start_off div $budget").as("seq_first"),
        expr(s"(start_off + n_tokens - 1) div $budget").as("seq_last"))
  }

  /** The apply step of [[packSequences]] — the (sequence, doc-slice) map a
    * packer materializes: one row per (training sequence, contributing
    * doc), with the doc's 1-based token range inside that sequence. Pure
    * arithmetic fan-out of the offsets ([[packSequences]]'s two-level
    * prefix sum does the distributed work); a doc spanning k sequences
    * emits k rows, so output is corpus tokens / budget + docs, linear.
    */
  def packApply(corpus: DataFrame, budget: Int = 2048,
      shardSize: Long = 1000L, idCol: String = "doc_id",
      textCol: String = "text",
      tokenCountExpr: Option[String] = None): DataFrame =
    packSequences(corpus, budget, shardSize, idCol, textCol, tokenCountExpr)
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        explode(expr("sequence(seq_first, seq_last)")).as("seq_id"))
      .withColumn("tok_start",
        greatest(lit(1L), col("seq_id") * budget - col("start_off") + 1))
      .withColumn("tok_end",
        least(col("n_tokens"), (col("seq_id") + 1) * budget - col("start_off")))
      .select(col("doc_id"), col("seq_id"), col("tok_start"), col("tok_end"),
        (col("tok_end") - col("tok_start") + 1).as("n_in_seq"))

  /** Token-balanced shard manifest — the export planner's other half:
    * [[globalShuffle]] balances shards by ROW count, but training-step
    * balance needs TOKEN mass (a shard of long documents trains slower
    * than a shard of short ones). Docs keep the deterministic doc_id
    * stream order and shard `k` takes the contiguous token range
    * `[k·total/shards, (k+1)·total/shards)` — each shard's mass within
    * one max-doc-length of total/shards by construction, assignment is
    * `floor(start_off · shards / total)` (exact integer arithmetic,
    * `start_off · shards` ≈ 8×10¹³ at 100 TB — no overflow).
    *
    * Scale: the offsets ride [[packSequences]]'s two-level prefix sum
    * (no corpus-wide window), the total is ONE single-row aggregate
    * crossJoined back as a broadcast literal, and the assignment is a
    * narrow projection. Nothing new shuffles.
    */
  def packShards(corpus: DataFrame, shards: Int = ShuffleShards,
      shardSize: Long = 1000L, idCol: String = "doc_id",
      textCol: String = "text",
      tokenCountExpr: Option[String] = None): DataFrame = {
    require(shards > 0, "shards must be positive")
    val off = packSequences(corpus, shardSize = shardSize,
        idCol = idCol, textCol = textCol, tokenCountExpr = tokenCountExpr)
      .select("doc_id", "n_tokens", "start_off")
    val total = off.agg(sum(col("n_tokens")).as("total"))
    off.crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        least(expr(s"(start_off * $shards) div total"),
          lit(shards - 1L)).as("shard"))
  }

  // --------------------------------------------------- int8 quantization

  /** Symmetric int8 quantization per vector — the 8×-memory-cut that makes
    * billion-vector ANN tractable: `scale = max|e|/127`,
    * `q_i = round(e_i/scale)` (so the max element maps to ±127 exactly, no
    * clamp needed), plus the reconstruction error `max|e_i − q_i·scale|`
    * for quality monitoring. All per-row narrow work, no shuffle. A zero
    * vector quantizes to zeros with scale 1 (the guard is mirrored in the
    * oracle). Exact max (order-free) keeps both engines bit-identical;
    * round on the same double agrees across engines (half away from
    * zero).
    */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    embBase(emb, idCol, vecCol)
      .withColumn("mx", expr("array_max(transform(e, v -> abs(v)))"))
      .withColumn("scale", expr(
        "CASE WHEN mx = cast(0.0 as double) THEN cast(1.0 as double) ELSE mx / cast(127.0 as double) END"))
      .withColumn("q", expr("transform(e, v -> cast(round(v / scale) as int))"))
      .withColumn("max_abs_err", expr(
        "array_max(zip_with(e, q, (x, qi) -> abs(x - qi * scale)))"))
      .select("vec_id", "scale", "q", "max_abs_err")

  // --------------------------------------------------- similarity search

  /** Brute-force cosine top-k: the query vectors (ids < nQueries) are
    * broadcast, the scan over candidates is embarrassingly parallel,
    * ranking is a per-query window. The baseline ANN; linear in corpus
    * size.
    */
  def annTopK(emb: DataFrame, k: Int = 10, idCol: String = "vec_id",
      vecCol: String = "embedding", nQueries: Int = 8): DataFrame = {
    val base = embBase(emb, idCol, vecCol)
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"))
    val scored = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", expr(s"${dotSql("qe", "e")} / (qnrm * nrm)"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "cosine")
  }

  /** ANN over the int8 codes: rank by integer dot product of the
    * quantized vectors — the search path a quantized index actually runs
    * (8× less data scanned per candidate; scores are scale_a·scale_b·⟨q_a,q_b⟩,
    * monotone per query pair-set in the integer dot for fixed scales, and
    * bit-exact across engines because the arithmetic never leaves
    * integers until the final ordering). Same broadcast-queries +
    * window-top-k shape as [[annTopK]].
    */
  def annQuantized(emb: DataFrame, k: Int = 10, idCol: String = "vec_id",
      vecCol: String = "embedding", nQueries: Int = 8): DataFrame = {
    val codes = quantizeInt8(emb, idCol, vecCol)
    val q = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("idot", expr(
        "aggregate(zip_with(q, qq, (a, b) -> cast(a as bigint) * b), cast(0 as bigint), (acc, v) -> acc + v)"))
    val w = Window.partitionBy("qid").orderBy(col("idot").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "idot")
  }

  /** Shared scaffold of the sign-bucket ANN family: bucket + norm the
    * corpus, broadcast the query rows expanded to their probe buckets
    * (exact bucket only, or bucket ∪ Hamming-1 neighbors), score within
    * probed buckets, window top-k. One implementation keeps [[annLsh]] and
    * [[annMultiprobe]] — and their shared tie-breaking — from diverging.
    */
  private def annSignBucketed(emb: DataFrame, k: Int, idCol: String,
      vecCol: String, nQueries: Int, bucketBits: Int,
      hamming1: Boolean): DataFrame = {
    val base = embBase(emb, idCol, vecCol)
      .withColumn("bucket", expr(signBucketSql("e", bucketBits)))
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("bucket").as("qbucket"), col("nrm").as("qnrm"))
    val probeKeys =
      if (!hamming1) array(col("qbucket"))
      else array(col("qbucket") +: (1 to bucketBits).map(i =>
        expr(flipBitSql("qbucket", i, bucketBits))): _*)
    val probes = q.select(col("qid"), col("qe"), col("qnrm"),
      explode(probeKeys).as("probe"))
    val scored = base.join(broadcast(probes),
        col("bucket") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", expr(s"${dotSql("qe", "e")} / (qnrm * nrm)"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "cosine")
  }

  /** LSH-bucketed ANN: each query probes only its own hyperplane
    * sign-bucket (the same LSH as [[dedupCosine]]) — the scale path where
    * the scanned candidate set drops by the bucket count (~2^bits);
    * recall is tuned by widening the code or probing neighbor buckets
    * ([[annMultiprobe]]). Complements [[annIvf]], whose coarse quantizer
    * is a learned label.
    */
  def annLsh(emb: DataFrame, k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", nQueries: Int = 8,
      bucketBits: Int = 8): DataFrame =
    annSignBucketed(emb, k, idCol, vecCol, nQueries, bucketBits, hamming1 = false)

  /** One-bit flip of a '0'/'1' bucket string at position `i` (1-based) —
    * shared SQL dialect (concat/substr/case) so the DuckDB oracle can
    * interpolate the identical expression.
    */
  def flipBitSql(b: String, i: Int, bits: Int): String =
    s"concat(substr($b, 1, ${i - 1}), " +
      s"case when substr($b, $i, 1) = '1' then '0' else '1' end, " +
      s"substr($b, ${i + 1}, ${bits - i}))"

  /** Multi-probe LSH ANN: like [[annLsh]] but each query also probes every
    * Hamming-distance-1 neighbor of its sign bucket (bits+1 probe keys per
    * query). A true near neighbor that straddles ONE hyperplane — the
    * dominant LSH miss mode, since a high-cosine pair disagrees on few
    * signs — lands in exactly such a bucket, so recall rises sharply for a
    * bounded extra scan (candidates grow ~(bits+1)/2^bits of the corpus,
    * still bucket-local).
    *
    * Scale: probe keys stay broadcast (nQueries·(bits+1) rows); the probe
    * buckets of one query are distinct by construction, so no candidate
    * dedup pass is needed and the join output stays linear in the probed
    * bucket mass. Deterministic buckets keep it oracle-expressible.
    */
  def annMultiprobe(emb: DataFrame, k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", nQueries: Int = 8,
      bucketBits: Int = 8): DataFrame =
    annSignBucketed(emb, k, idCol, vecCol, nQueries, bucketBits, hamming1 = true)

  /** Ordered squared-L2 fold over two double arrays — bit-exact across
    * engines like [[dotSql]] (same element order, 0.0 + v₁ ≡ v₁).
    */
  def ssdSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, v) -> acc + v)"

  val PqSubspaces   = 4  // m: 64-dim vectors → 16-dim subvectors
  val PqCentroids   = 16 // K per subspace codebook
  val PqSubDim      = 16

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search"): each vector is split into [[PqSubspaces]]
    * subvectors; per subspace a [[PqCentroids]]-entry codebook quantizes
    * the subvector to its nearest centroid (squared-L2, ties to the
    * lowest centroid id); a query ranks candidates by the asymmetric
    * distance — exact query subvectors vs the candidate's reconstructed
    * centroids. Codes cost m·log₂K bits per vector (here 16 bits vs 512
    * bytes raw, a 256× index shrink) — the memory step-change that makes
    * billion-vector search fit RAM.
    *
    * K-means needs no RNG here: the codebook is the subvectors of the K
    * lowest salted-hash-priority rows of a deterministic 5% id-slice —
    * train-on-a-sample, the way a production PQ trainer runs (and the
    * [[bpeApply]] 5%-slice precedent): codebook quality needs a
    * representative sample, not the corpus, so the training scan stays
    * flat as the corpus grows while ENCODING (the irreducible per-vector
    * work) remains the only linear stage. Deterministic slice + hash rank
    * keep the whole operator oracle-expressible. Scale: codebooks are K
    * rows broadcast twice (assignment, reconstruction); assignment is a
    * linear n·m·K-row frame (n·64 here) reduced by a map-side-combinable
    * per-(vector, subspace) `min(struct(distance, cid))` argmin — an
    * aggregation, NOT a rank window, so the n·m·K distance rows partial-
    * aggregate in place and only n·m argmin rows cross the shuffle;
    * reconstruction re-assembles each candidate's approx vector with an
    * order-fixing array_sort (collect_list order is not deterministic);
    * search is the [[annTopK]] broadcast-queries shape over codes, never
    * raw vectors.
    */
  /** Modulus of the deterministic codebook-training slice (5% of ids).
    * `trainMod = 1` trains on the full corpus — the knob exists so tiny
    * spec fixtures (where a 5% slice can't seat kc centroids) can disable
    * slicing, the `heapMaxK = 0` precedent.
    */
  val PqTrainSliceMod = 20L

  /** (vec_id, approx) — every vector replaced by its PQ reconstruction:
    * hash-rank codebook over the training slice, per-(vector, subspace)
    * nearest-centroid argmin, order-fixed reassembly. The index core
    * shared by [[annPq]] and [[annIvfPq]].
    */
  /** The deterministic PQ codebook: the K lowest salted-hash-priority
    * rows of the `trainMod` id-slice, numbered by that order — (cid, ce).
    */
  private def pqPivots(base: DataFrame, kc: Int, trainMod: Long): DataFrame = {
    // codebook training reads ONLY the slice: pri is computed post-filter,
    // so the full corpus is never hashed or globally ranked for training
    val pri = base.filter(col("vec_id") % trainMod === 0)
      .withColumn("pri", expr(h56("concat('pq|', cast(vec_id as string))")))
    // K rows: the unpartitioned window is over the already-limited frame
    pri.orderBy(col("pri"), col("vec_id")).limit(kc)
      .withColumn("cid",
        (row_number().over(Window.orderBy(col("pri"), col("vec_id"))) - 1).cast("int"))
      .select("cid", "e").withColumnRenamed("e", "ce")
  }

  /** Fixed Lloyd-iteration count for the data-adaptive codebook — bounded
    * by construction (the BPE fixed-rounds precedent): each iteration is
    * one broadcast-assign + one mean fold over the capped training set,
    * so the refinement cost is iters × O(trainCap · m · K) regardless of
    * corpus size. Two iterations capture most of the quantization-error
    * drop on hash-rank init (the classic k-means convergence profile:
    * the first assignments move centroids onto the data's mass, later
    * iterations fine-tune boundaries).
    */
  val PqLloydIters = 2

  /** Cap on Lloyd training rows — 64·K at the default [[PqCentroids]],
    * the per-centroid training-mass discipline production PQ trainers
    * enforce (FAISS warns above ~256 points/centroid and subsamples).
    * The cap is what keeps the mean fold's per-(s, cid) collect bounded
    * at ANY corpus size: training reads the `trainMod` id-slice, ranks
    * it by the salted-hash priority, and keeps the lowest `trainCap`
    * rows — a distributed TakeOrdered, never a corpus sort.
    */
  val PqLloydTrainCap = 1024

  /** Data-adaptive PQ codebook: [[pqPivots]]'s hash-rank K rows as the
    * deterministic init, refined by `iters` Lloyd steps over the capped
    * training set (k-means per SUBSPACE — the true PQ trainer, Jégou
    * §III.A: each 16-dim subquantizer clusters its own subvectors). The
    * refined per-subspace centroids reassemble into full (cid, ce) rows
    * (subspace s of ce = centroid (s, cid)), so every downstream
    * consumer — [[pqAssign]], [[pqReconstruct]], the stored `codebooks/`
    * layout — is unchanged: assignment slices ce per subspace and lands
    * on exactly the refined centroid.
    *
    * Bit-exactness (hash-green contract): assignment ties break (d, cid)
    * like [[pqAssign]]; each new centroid is the ordered left fold of its
    * members' subvectors sorted by vec_id (sort_array(collect_list) here,
    * `list(seg ORDER BY vec_id)` + `list_reduce` in the oracle — the
    * [[dotSql]] discipline: identical addition order ⇒ identical
    * doubles), divided by the member count; an EMPTY cell keeps its
    * previous centroid (coalesce), the deterministic analog of FAISS's
    * empty-cluster reseed. Scale: the training set is ≤ `trainCap` rows
    * end-to-end — every per-iteration frame (assign crossJoin, mean
    * collect) is bounded by trainCap · m · K rows, independent of corpus
    * size; only the FINAL encode pass (shared with the hash-rank path)
    * is linear in the corpus.
    *
    * EAGER-COLLECT CONTRACT: with `iters > 0` this runs the bounded
    * training job (sample TakeOrdered + the driver Lloyd loop) AT
    * DATAFRAME-CONSTRUCTION TIME — merely building a frame through
    * [[annPq]]/[[annRecallPq]]/[[annIvfKm]] with Lloyd iterations on
    * triggers execution. Trained centroids are MEMOIZED per (dataset
    * fingerprint, params) within the JVM — the [[graft.llm.LlmQueries]]
    * index-memo discipline brought in-process — so a session that
    * constructs several frames over the same corpus (the pq_lloyd/ivfkm
    * gauge family) trains exactly once; only the first construction
    * pays the sample job + driver loop. The fingerprint folds the
    * source files' (path, size, mtime) with the canonicalized plan, so
    * a regenerated corpus under the same path retrains. Callers that
    * probe the same corpus repeatedly ACROSS processes should still go
    * through the STORED artifact ([[buildPqIndex]]/[[buildKmAnnIndex]]
    * + the `_idx` probes), which memoizes trained centroids on disk —
    * the in-query forms are the diagnostic/one-shot path.
    */
  private def pqPivotsLloyd(base: DataFrame, kc: Int, trainMod: Long,
      m: Int, sub: Int, iters: Int = PqLloydIters,
      trainCap: Int = PqLloydTrainCap): DataFrame = {
    // The training set is ≤ trainCap (1024) rows BY CONSTRUCTION — the
    // whitelisted artifact-sized collect class — so the Lloyd loop runs
    // ON THE DRIVER: a distributed k-means over ≤ 1024 rows is ~10
    // sequential sub-second stages of pure scheduling latency (measured:
    // the distributed form put the recall gauges at 2.2-3.0 s; driver
    // training cut them to ~1.3 s), and production PQ trainers are
    // single-node over a sample for the same reason (FAISS's
    // train-on-sample). Corpus-scale work — assignment, encoding — stays
    // distributed; only the bounded sample crosses to the driver, once
    // per (dataset fingerprint, params) per JVM.
    // Arithmetic is bit-exact vs the distributed form and the oracle:
    // same (pri, vec_id) training order, same left-fold ssd in element
    // order, argmin ties to the lowest cid (strict <), means as
    // vec_id-ordered left folds divided by count, empty cells keep the
    // previous centroid.
    val spark = base.sparkSession
    val key = memoKey("lloyd", base, s"$kc|$trainMod|$m|$sub|$iters|$trainCap")
    val cents = lloydCentroidCache.getOrCompute(key) {
      // ONE bounded collect, (pri, vec_id)-ordered: init = the first kc
      // rows (pqPivots's codebook exactly); vec_ids ride along because
      // the mean folds below must run in vec_id order
      val rows = base
        .filter(col("vec_id") % trainMod === 0)
        .withColumn("pri", expr(h56("concat('pq|', cast(vec_id as string))")))
        .orderBy(col("pri"), col("vec_id")).limit(trainCap)
        .select("vec_id", "e")
        .collect()
      val ids: Array[Long] = rows.map(_.getLong(0))
      val train: Array[Array[Double]] = rows.map(_.getSeq[Double](1).toArray)
      def ssdLocal(a: Array[Double], ao: Int, b: Array[Double], bo: Int): Double = {
        var acc = 0.0; var i = 0
        while (i < sub) { val v = (a(ao + i) - b(bo + i)) * (a(ao + i) - b(bo + i)); acc += v; i += 1 }
        acc
      }
      // centroids as full-width vectors: subspace s of cents(cid) is the
      // (s, cid) subspace centroid — the reassembled (cid, ce) layout
      var cs: Array[Array[Double]] =
        (0 until math.min(kc, train.length)).map(i => train(i).clone()).toArray
      for (_ <- 1 to iters) {
        val next = cs.map(_.clone())
        for (s <- 0 until m) {
          val off = s * sub
          // assign each training subvector to its nearest centroid
          val memb = Array.fill(cs.length)(List.newBuilder[Int])
          for (t <- train.indices) {
            var bestD = Double.PositiveInfinity; var bestC = 0; var c = 0
            while (c < cs.length) {
              val d = ssdLocal(train(t), off, cs(c), off)
              if (d < bestD) { bestD = d; bestC = c }
              c += 1
            }
            memb(bestC) += t
          }
          for (c <- cs.indices) {
            val members = memb(c).result()
            if (members.nonEmpty) {
              // vec_id-ordered left fold (the oracle's list(seg ORDER BY
              // vec_id) + list_reduce), then per-element division
              val sorted = members.sortBy(ids(_))
              val acc = new Array[Double](sub)
              for (t <- sorted; j <- 0 until sub) acc(j) += train(t)(off + j)
              for (j <- 0 until sub) next(c)(off + j) = acc(j) / members.size.toDouble
            } // empty cell: keep previous centroid (next already a copy)
          }
        }
        cs = next
      }
      cs
    }
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (ce, cid) => (cid, ce.toSeq) }
      .toDF("cid", "ce")
  }

  /** Max entries either in-session memo ([[lloydCentroidCache]],
    * [[exactTruthCache]]) retains. Entries are KB-sized, so the cap is
    * about LIFETIME, not memory pressure at rest: a long-lived service
    * re-fingerprinting a nightly-regenerated corpus mints one key per
    * generation forever, and an uncapped map is an unbounded leak at
    * service cadence. 64 distinct (corpus, params) pairs is far above
    * what one process legitimately trains over; past it the
    * least-recently-USED entry evicts and a later probe simply retrains
    * (the memo is a pure cost cache — eviction can never change a
    * result).
    */
  val MemoMaxEntries: Int = 64

  /** Trained-centroid memo backing [[pqPivotsLloyd]] — centroid payload
    * is kc × (m·sub) doubles (KBs per entry), LRU-bounded at
    * [[MemoMaxEntries]]. Values compute OUTSIDE the map lock
    * ([[BoundedMemo.getOrCompute]]) so one session's multi-second
    * training job never serializes another session's unrelated lookup.
    */
  private val lloydCentroidCache =
    new BoundedMemo[Array[Array[Double]]](MemoMaxEntries)

  /** In-session memo key for results derived from a dataset: md5 over
    * the frame's canonicalized plan (captures the transformation chain,
    * exprIds normalized) folded with the (path, size, mtime) of every
    * file under a file-backed leaf's root paths, listed through
    * [[graft.fs.ArtifactFs.fingerprint]] (URI paths included) — the
    * [[graft.llm.LlmQueries]] fingerprint discipline, so a corpus
    * REGENERATED under the same path within one JVM misses the memo
    * instead of serving stale results. The plan serializes via
    * `treeString` with `maxFields = Int.MaxValue`: the default
    * `toString` elides columns past `spark.sql.debug.maxToStringFields`
    * (25) as "... N more fields", so two frames differing only in
    * truncated fields would collide on one key and serve each other's
    * centroids/truth rows — a bit-exactness break no output check in
    * the colliding session could catch. One documented best-effort edge:
    * the mtime carries the filesystem's granularity (often 1 ms, some
    * filesystems 1 s) — an in-place same-length rewrite WITHIN that
    * resolution window is indistinguishable from the original. Harness
    * corpora are write-once per generation; cross-process reuse goes
    * through the stored artifacts, which re-list files on every read.
    */
  private def memoKey(kind: String, df: DataFrame, params: String): String = {
    val plan = df.queryExecution.analyzed
    val roots = plan.collectLeaves().flatMap {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      case _ => Nil
    }
    val planStr = plan.canonicalized.treeString(
      verbose = true, addSuffix = false, maxFields = Int.MaxValue,
      printOperatorId = false)
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(
      (planStr + "§" + ArtifactFs.fingerprint(df.sparkSession, roots: _*))
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"$kind|$h|$params"
  }

  /** Nearest-centroid assignment against a FROZEN codebook — (vec_id, s,
    * cid) rows. Shared by the in-query operators and the stored index's
    * build/append (append encodes new vectors with the stored codebook,
    * the classic PQ lifecycle).
    */
  private def pqAssign(base: DataFrame, pivots: DataFrame, m: Int,
      sub: Int): DataFrame = {
    val assign = base
      .select(col("vec_id"), col("e"), explode(expr(s"sequence(0, ${m - 1})")).as("s"))
      .crossJoin(broadcast(pivots))
      .withColumn("d", expr(ssdSql(
        s"slice(e, s*$sub+1, $sub)", s"slice(ce, s*$sub+1, $sub)")))
    // argmin as an aggregation: min over struct(d, cid) is exactly the
    // (d, cid)-ascending rank-1 row, but partial-aggregates map-side —
    // the rank window would shuffle all n·m·K distance rows instead
    assign.groupBy("vec_id", "s")
      .agg(min(struct(col("d"), col("cid"))).as("mc"))
      .select(col("vec_id"), col("s"), col("mc.cid").as("cid"))
  }

  /** (vec_id, approx) — each vector's PQ reconstruction from (vec_id, s,
    * cid) codes + the codebook, order-fixed reassembly (collect_list
    * order is not deterministic).
    */
  private def pqReconstruct(codes: DataFrame, pivots: DataFrame,
      sub: Int): DataFrame =
    // pin the reconstruct exchange wide on the NARROWEST rows — the
    // (vec_id, s, cid) code triples, before the broadcast-pivot join
    // re-attaches the 448-byte centroid rows ([[coresWide]]; §2.3
    // shuffle fewer bytes). hash(vec_id) satisfies the groupBy's
    // clustering, so the segment slicing, the reassembly agg AND the
    // downstream query-scoring BNLJ + rank sort all run wide instead of
    // on AQE's single coalesced partition (measured: the fused
    // reconstruct+score+rank stage was 0.96 s CPU on 1 task — half of
    // llm_ann_recall_pq_lloyd).
    coresWide(codes, Seq("vec_id"), feedsShuffle = true)
      .join(broadcast(pivots), Seq("cid"))
      .withColumn("cseg", expr(s"slice(ce, s*$sub+1, $sub)"))
      .groupBy("vec_id")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(s, cseg))), x -> x.cseg))").as("approx"))

  /** (vec_id, label, approx) — [[pqReconstruct]] for a PACKED stored
    * codes table (one row per vector), the label carried through the
    * groupBy so no second codes read or self-join recovers the cell.
    * One definition: the serving probe and the drift gauge must decode
    * with the same order-fixed reassembly or they diverge from the
    * in-query operator they are spec'd identical to.
    */
  private def pqReconstructStored(packed: DataFrame, pivots: DataFrame,
      sub: Int): DataFrame =
    // same wide pin as [[pqReconstruct]] on the exploded code triples;
    // hash(vec_id) alone satisfies the (vec_id, label) clustering
    coresWide(
      packed.select(col("vec_id"), col("label"),
        posexplode(col("codes")).as(Seq("s", "cid"))),
      Seq("vec_id"), feedsShuffle = true)
      .join(broadcast(pivots), Seq("cid"))
      .withColumn("cseg", expr(s"slice(ce, s*$sub+1, $sub)"))
      .groupBy("vec_id", "label")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(s, cseg))), x -> x.cseg))").as("approx"))

  private def pqApproxFrame(base: DataFrame, m: Int, kc: Int,
      sub: Int, trainMod: Long, lloydIters: Int = 0): DataFrame = {
    val pivots =
      if (lloydIters > 0) pqPivotsLloyd(base, kc, trainMod, m, sub, lloydIters)
      else pqPivots(base, kc, trainMod)
    // [[coresWide]] before the assignment pass: the n·m·K distance
    // evaluations of [[pqAssign]] fuse into the corpus scan's stage
    // (measured 0.45-0.48 s CPU on 1 task inside
    // llm_ann_recall_pq_lloyd). Pivot training reads the UNWIDENED
    // base: its memo key hashes the canonicalized plan, which must not
    // depend on the session's width.
    pqReconstruct(pqAssign(coresWide(base, Seq("vec_id")), pivots, m, sub),
      pivots, sub)
  }

  def annPq(emb: DataFrame, k: Int = 10, idCol: String = "vec_id",
      vecCol: String = "embedding", nQueries: Int = 8,
      m: Int = PqSubspaces, kc: Int = PqCentroids,
      sub: Int = PqSubDim, trainMod: Long = PqTrainSliceMod,
      lloydIters: Int = 0): DataFrame = {
    val base = embBase(GraftExtensions.register(emb), idCol, vecCol).select("vec_id", "e")
    val approx = pqApproxFrame(base, m, kc, sub, trainMod, lloydIters)
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val scored = approx.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adist", expr(ssdSql("qe", "approx")))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "adist")
  }

  /** IVF-PQ — the composed architecture a billion-vector index actually
    * ships (FAISS's IndexIVFPQ): the coarse quantizer ([[annIvf]]'s label
    * cells) prunes the candidate set to the query's own cell, and within
    * the cell candidates are scored by PQ asymmetric distance over 16-bit
    * codes, not raw vectors. Scan cost drops multiplicatively: cells cut
    * the candidate COUNT, codes cut the bytes PER candidate.
    */
  def annIvfPq(emb: DataFrame, k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label",
      nQueries: Int = 8, m: Int = PqSubspaces, kc: Int = PqCentroids,
      sub: Int = PqSubDim, trainMod: Long = PqTrainSliceMod,
      lloydIters: Int = 0): DataFrame = {
    // canonical widening via embBase (it keeps a `label` column when one
    // exists — normalize the caller's labelCol to that name first)
    val base = embBase(GraftExtensions.register(emb).withColumn("label", col(labelCol)),
      idCol, vecCol)
    val approx = pqApproxFrame(base.select("vec_id", "e"), m, kc, sub,
      trainMod, lloydIters)
      .join(base.select("vec_id", "label"), Seq("vec_id"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("label").as("qlabel"))
    val scored = approx.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .withColumn("adist", expr(ssdSql("qe", "approx")))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "label", "adist")
  }

  /** Two-stage retrieval — the production ANN pattern: the PQ index
    * produces a cheap `shortlist`-deep candidate set per query
    * ([[annPq]]'s asymmetric distance over 16-bit codes), then ONLY those
    * candidates are re-ranked by exact cosine over the raw vectors.
    * Recall is set by the shortlist depth, exactness of the final
    * ordering by the re-rank — and the raw-vector reads drop from n per
    * query to `shortlist` per query, which is the whole economics of a
    * quantized index at scale.
    */
  def annPqRefine(emb: DataFrame, k: Int = 5, shortlist: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nQueries: Int = 8, m: Int = PqSubspaces, kc: Int = PqCentroids,
      sub: Int = PqSubDim, trainMod: Long = PqTrainSliceMod): DataFrame = {
    val short = annPq(emb, shortlist, idCol, vecCol, nQueries, m, kc, sub,
      trainMod).select("qid", "vec_id")
    val base = embBase(GraftExtensions.register(emb), idCol, vecCol).select("vec_id", "e")
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"))
    val scored = short.join(base, Seq("vec_id")).join(broadcast(q), Seq("qid"))
      .withColumn("cosine", expr(s"${dotSql("qe", "e")} / (qnrm * nrm)"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "cosine")
  }

  /** Recall@k of an ANN index against the exact answer — the evaluation
    * every index deployment monitors: per query, the fraction of the true
    * (brute-force cosine) top-k the approximate index actually returned.
    * Default pairing: [[annLsh]] vs [[annTopK]] at the same k;
    * `multiprobe = true` gauges [[annMultiprobe]] instead — run both and
    * the recall delta IS the Hamming-1 lift, priced by the probe-count
    * ratio (bits+1 buckets vs 1). Both sides are the existing operators;
    * the measurement is one left join + per-query count — at scale the
    * cost is the two index runs, the comparison is free.
    */
  /** The one recall-measurement definition every ANN gauge shares: per
    * query, |exact∩approx|/k off a left join — a fix to the measurement
    * (tie handling, dedup) lands in every gauge at once.
    */
  private def recallAgainst(exact: DataFrame, approxFrame: DataFrame,
      k: Int): DataFrame = {
    val approx = approxFrame
      .select(col("qid").as("aqid"), col("vec_id").as("avid"))
    exact.join(approx,
        col("qid") === col("aqid") && col("vec_id") === col("avid"), "left")
      .groupBy("qid")
      .agg(count(col("avid")).as("n_hits"))
      .withColumn("recall_at_k", col("n_hits").cast("double") / k)
  }

  /** Truth-pair memo backing [[exactTruth]]: (qid, vec_id) rows + their
    * schema — ≤ nQueries × k rows per entry by construction, LRU-bounded
    * at [[MemoMaxEntries]] with the compute-outside-the-lock discipline
    * ([[lloydCentroidCache]]'s rationale).
    */
  private val exactTruthCache = new BoundedMemo[
    (Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)](MemoMaxEntries)

  /** The recall gauges' SHARED exact-cosine truth side: every gauge in
    * the family ([[annRecall]] lsh/multiprobe, [[annRecallPq]] hash-rank
    * and Lloyd) compares a different approximate ranking against the
    * SAME brute-force top-k over the same query set — so the truth
    * derivation (the one corpus-linear pass each gauge pays) is
    * memoized per (dataset fingerprint, k, nQueries) within the JVM and
    * rebuilt as a local relation on later constructions. The collect is
    * nQueries × k rows, bounded by construction (the footprint-collect
    * class), and EAGER at frame-construction time — the
    * [[pqPivotsLloyd]] contract; values are exact longs, so the rebuilt
    * truth side is bit-identical to the in-query derivation and every
    * gauge's hash is unchanged. ([[annRecallIvfKm]] stays on its fused
    * one-window form — its truth side never materializes separately.)
    */
  private def exactTruth(emb: DataFrame, k: Int, idCol: String,
      vecCol: String, nQueries: Int): DataFrame = {
    val spark = emb.sparkSession
    val key = memoKey("truth", emb, s"$k|$idCol|$vecCol|$nQueries")
    val (rows, schema) = exactTruthCache.getOrCompute(key) {
      val df = annTopK(emb, k, idCol, vecCol, nQueries)
        .select(col("qid"), col("vec_id"))
      (df.collect(), df.schema)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** CONSTRUCTION-TIME EAGERNESS: building this frame (and
    * [[annRecallPq]]'s) runs the shared exact-truth derivation — one
    * corpus-linear job — via [[exactTruth]] BEFORE any action on the
    * returned frame; callers that previously relied on the gauges being
    * fully lazy (constructing speculatively, acting conditionally) now
    * pay that job at construction. Subsequent constructions over the
    * same (corpus, k, nQueries) are memo hits and stay job-free.
    */
  def annRecall(emb: DataFrame, k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", nQueries: Int = 8,
      bucketBits: Int = 8, multiprobe: Boolean = false): DataFrame = {
    val exact = exactTruth(emb, k, idCol, vecCol, nQueries)
    val approxFrame =
      if (multiprobe) annMultiprobe(emb, k, idCol, vecCol, nQueries, bucketBits)
      else annLsh(emb, k, idCol, vecCol, nQueries, bucketBits)
    recallAgainst(exact, approxFrame, k)
  }

  /** Recall@k of the PQ asymmetric-distance ranking vs exact cosine —
    * the deploy gauge for the ADC serving path, completing the recall
    * family (LSH buckets, multiprobe, and now codes). [[pqDrift]] reads
    * the codebook's reconstruction error; this reads its END EFFECT on
    * ranking — the number a retrieval operator actually alarms on, since
    * tolerable per-vector error can still reorder a top-k. Unit-norm
    * corpus ⇒ L2² = 2−2·cos, so the exact-cosine truth ranking IS the
    * exact-L2 ranking the ADC approximates — the comparison is
    * apples-to-apples. Same shape as [[annRecall]]: per query,
    * |exact∩approx|/k. Construction is EAGER ([[annRecall]]'s note):
    * the shared truth job — and with `lloydIters > 0` the Lloyd
    * training job ([[pqPivotsLloyd]]) — runs when the frame is BUILT,
    * memoized thereafter.
    */
  def annRecallPq(emb: DataFrame, k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", nQueries: Int = 8,
      m: Int = PqSubspaces, kc: Int = PqCentroids,
      sub: Int = PqSubDim, trainMod: Long = PqTrainSliceMod,
      lloydIters: Int = 0): DataFrame = {
    val exact = exactTruth(emb, k, idCol, vecCol, nQueries)
    recallAgainst(exact,
      annPq(emb, k, idCol, vecCol, nQueries, m, kc, sub, trainMod,
        lloydIters), k)
  }

  /** Default cell count for the TRAINED coarse quantizer — label-
    * cardinality parity with the fixture's 10 labels, so the
    * [[annRecallIvfKm]] vs label-cell gauge compares equal-sized
    * candidate sets (recall trivially rises with fewer cells; holding
    * the count fixed isolates WHERE the boundaries sit). Production
    * picks ~√n cells and retunes at rebuild cadence.
    */
  val KmCells = 10

  /** Embedding dimensionality the fixtures carry ([[PqSubspaces]] ×
    * [[PqSubDim]]) — the full-vector k-means' "one subspace of width
    * dim" configuration.
    */
  val KmDim = PqSubspaces * PqSubDim

  /** The TRAINED coarse quantizer: full-vector k-means centroids —
    * [[pqPivotsLloyd]] at m = 1 (one subspace as wide as the vector),
    * so the trainer, fold order, tie rules, and empty-cell coalesce are
    * the PQ codebook's verbatim. Returns (cid, ce) centroid rows.
    */
  private def kmCentroids(base: DataFrame, c: Int, trainMod: Long,
      iters: Int, dim: Int): DataFrame =
    pqPivotsLloyd(base, c, trainMod, 1, dim, iters)

  /** Nearest-centroid cell assignment against FROZEN centroids —
    * (vec_id, cell) rows; [[pqAssign]] at m = 1, ties to the lowest cid.
    */
  private def kmAssign(base: DataFrame, centroids: DataFrame,
      dim: Int): DataFrame =
    pqAssign(base, centroids, 1, dim)
      .select(col("vec_id"), col("cid").as("cell"))

  /** The `nprobe` NEAREST centroids per vector — (vec_id, probe) rows,
    * FAISS's nprobe serving knob. A rank window, not the combinable
    * argmin: this runs over the bounded QUERY set only (corpus-side
    * assignment stays [[kmAssign]]'s aggregation), so the window's
    * partition is nQueries × C rows.
    */
  private def kmProbes(base: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val d = base.crossJoin(broadcast(centroids))
      .withColumn("d", expr(ssdSql("e", "ce")))
    val w = Window.partitionBy("vec_id").orderBy(col("d"), col("cid"))
    d.withColumn("prk", row_number().over(w)).filter(col("prk") <= nprobe)
      .select(col("vec_id"), col("cid").as("probe"))
  }

  /** IVF over DATA-ADAPTIVE cells — [[annIvf]] with the coarse quantizer
    * TRAINED on the corpus (full-vector k-means, bounded Lloyd) instead
    * of read off the `label` column: each query probes only its own
    * Voronoi cell. This is what "centroids track the embedding
    * distribution" buys: at the SAME cell count (10), recall@5 over 64
    * queries measures 0.28-0.44 trained vs 0.10-0.12 label-cells across
    * the driver fixtures — a 3-4× lift, because Voronoi boundaries put
    * near neighbors in the same cell while arbitrary labels scatter
    * them. Scale shape is [[annIvf]]'s: the C-row centroid table
    * broadcasts for assignment (one linear pass, map-side-combinable
    * argmin), the probe scans only same-cell candidates.
    */
  def annIvfKm(emb: DataFrame, k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", nQueries: Int = 8, c: Int = KmCells,
      trainMod: Long = PqTrainSliceMod, iters: Int = PqLloydIters,
      dim: Int = KmDim, nprobe: Int = 1): DataFrame = {
    val base = embBase(GraftExtensions.register(emb), idCol, vecCol).select("vec_id", "e")
    val cents = kmCentroids(base, c, trainMod, iters, dim)
    // [[coresWide]] feeds BOTH the assignment pass and the join's
    // base side: the narrow form plans the cell join as a BROADCAST
    // join fused into the 1-split harness scan, so the assignment
    // distances AND the query-scoring cosine run single-task; the widen
    // inserts one keyed exchange whose cores-wide read side carries all
    // that per-row CPU (hash(vec_id) also satisfies the assign
    // groupBy's clustering, and runtime ReusedExchange dedups the
    // repeated subtree occurrences). Centroid training stays on the
    // unwidened base, memo-stable.
    val baseW = coresWide(base, Seq("vec_id"))
    val b = baseW.join(kmAssign(baseW, cents, dim), Seq("vec_id"))
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
    val scored =
      if (nprobe <= 1) {
        val q = b.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("qid"), col("e").as("qe"),
            col("cell").as("qcell"), col("nrm").as("qnrm"))
        b.join(broadcast(q),
          col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      } else {
        // multiprobe: each query scans its nprobe nearest cells — the
        // recall/scan dial (measured at 64 queries: recall@5 0.36 →
        // 0.54 → 0.64 at sf0.001, 0.28 → 0.43 → 0.57 at sf0.1 for
        // nprobe 1/2/3, candidate mass ∝ nprobe). Probe cells of one
        // query are distinct by construction — no candidate dedup.
        val q0 = b.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("qid"), col("e").as("qe"),
            col("nrm").as("qnrm"))
        val qp = kmProbes(base.filter(col("vec_id") < nQueries), cents,
          nprobe).withColumnRenamed("vec_id", "qid")
        b.join(broadcast(q0.join(qp, Seq("qid"))),
          col("cell") === col("probe") && col("vec_id") =!= col("qid"))
      }
    val ranked = scored
      .withColumn("cosine", expr(s"${dotSql("qe", "e")} / (qnrm * nrm)"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    ranked.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "cell", "cosine")
  }

  /** Recall@k of the trained-cell IVF vs exact cosine — the gauge that
    * prices the coarse quantizer's training: run it next to [[annIvf]]'s
    * cells at the same count and the delta IS the k-means lift (the
    * spec asserts it; the fixture numbers are in [[annIvfKm]]'s doc).
    */
  def annRecallIvfKm(emb: DataFrame, k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", nQueries: Int = 64, c: Int = KmCells,
      trainMod: Long = PqTrainSliceMod, iters: Int = PqLloydIters,
      dim: Int = KmDim, nprobe: Int = 1): DataFrame = {
    // ONE all-pairs cosine frame and ONE window pass feed BOTH
    // rankings: the truth side needs every (query, candidate) cosine
    // anyway, and the operator's candidates are the in-probe subset —
    // so compute the exact rank (row_number) and the probe-side rank (a
    // running count of in-probe rows under the SAME total order) in a
    // single window, instead of running annTopK and annIvfKm as two
    // separate corpus derivations with two shuffles. A truth-side row
    // then hits iff it is in-probe with probe-rank ≤ k — the recall
    // read-out is one aggregation, no set join. Values are pinned
    // identical to recallAgainst(annTopK, annIvfKm) by the spec
    // (1e-12): same cosine expression, same (cosine desc, vec_id) total
    // order, and a subset's running count under a total order IS its
    // row_number. Matched quiet A/B at sf0.1 (REPS=7), combined with
    // the driver-side Lloyd trainer: 2.22/2.86 → 1.20/1.29 s for
    // nprobe 1/2 (1.13×/0.94× the quiet oracle). The gauge stays
    // diagnostic-cadence: its truth side is inherently the
    // bounded-query brute force.
    val base = embBase(GraftExtensions.register(emb), idCol, vecCol).select("vec_id", "e")
    val cents = kmCentroids(base, c, trainMod, iters, dim)
    // same co-partitioned widen as [[annIvfKm]] — the all-pairs cosine
    // against the broadcast query set (the gauge's dominant stage:
    // 0.73 s CPU on 1 task solo) fuses onto this join's output
    val baseW = coresWide(base, Seq("vec_id"))
    val b = baseW.join(kmAssign(baseW, cents, dim), Seq("vec_id"))
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
    val q0 = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("cell").as("qcell"), col("nrm").as("qnrm"))
    val qp =
      if (nprobe <= 1) q0.select(col("qid").as("pqid"), col("qcell").as("probe"))
      else kmProbes(base.filter(col("vec_id") < nQueries), cents, nprobe)
        .select(col("vec_id").as("pqid"), col("probe"))
    val scored = b.join(broadcast(q0), col("vec_id") =!= col("qid"))
      .withColumn("cosine", expr(s"${dotSql("qe", "e")} / (qnrm * nrm)"))
      .select("qid", "vec_id", "cell", "cosine")
    // at most one probe row matches a candidate (a query's probe cells
    // are distinct), so the left join flags without duplicating
    val flagged = scored.join(broadcast(qp),
        col("qid") === col("pqid") && col("cell") === col("probe"), "left")
      .withColumn("inp", col("probe").isNotNull)
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged
      .withColumn("rnk", row_number().over(w))
      .withColumn("prnk", sum(when(col("inp"), 1L).otherwise(0L)).over(wr))
      .filter(col("rnk") <= k)
      .groupBy("qid")
      .agg(sum(when(col("inp") && col("prnk") <= k, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("recall_at_k", col("n_hits").cast("double") / k)
  }

  /** IVF-style ANN: `labelCol` acts as the coarse quantizer (cluster
    * assignment); each query probes only its own cell — the scale path
    * where the scan cost drops by the cell count.
    */
  def annIvf(emb: DataFrame, k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label",
      nQueries: Int = 8): DataFrame = {
    val base = emb.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("e"), col(labelCol).as("label"))
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("label").as("qlabel"), col("nrm").as("qnrm"))
    val scored = base.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", expr(s"${dotSql("qe", "e")} / (qnrm * nrm)"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "label", "cosine")
  }

  /** Materialize the IVF cell layout for the embedding corpus under `dir` —
    * the ANN counterpart of [[buildMinHashIndex]]: one `cells/` parquet
    * table of (vec_id, e, nrm, label) *partitioned by the cell column*, so
    * a probe that filters on cell ids becomes directory-level partition
    * pruning — the scan touches only the probed cells' files, never the
    * corpus. Norms are precomputed at build time (each probe saves a full
    * per-row sqrt-dot pass, the classic index-time/query-time trade).
    * Built once per corpus generation; [[annIvfIndexed]] probes it, and
    * parquet `append` of newly-assigned vectors extends it between
    * rebuilds.
    */
  def buildAnnIndex(emb: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): Unit =
    emb.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("e"), col(labelCol).as("label"))
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
      // hash-cluster rows by cell before the partitioned write: one file
      // per cell directory instead of one per (shuffle partition × cell) —
      // at scale the probe's task count tracks probed cells, not the
      // builder's parallelism
      .repartition(col("label"))
      .write.mode("overwrite").partitionBy("label").parquet(s"$dir/cells")

  /** [[annIvf]] over a STORED index: the query set probes `dir`'s cell
    * table instead of re-deriving cells and norms from the corpus —
    * output-identical (equivalence spec + shared oracle). The broadcast
    * query join keys on the partition column, so only the probed cells'
    * parquet directories are read (cell count × cell size, flat in the
    * number of unprobed cells); the per-probe cost left is the cosine over
    * the probed cells — the steady-state serving shape, where index build
    * cost is paid once and queries arrive forever after.
    */
  def annIvfIndexed(queries: DataFrame, indexDir: String, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val cells = readStored(queries.sparkSession, s"$indexDir/cells")
    val q = queries.select(col(idCol).as("qid"),
        col(vecCol).cast("array<double>").as("qe"), col(labelCol).as("qlabel"))
      .withColumn("qnrm", expr(s"sqrt(${dotSql("qe", "qe")})"))
    val scored = cells.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", expr(s"${dotSql("qe", "e")} / (qnrm * nrm)"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "label", "cosine")
  }

  /** Index maintenance for [[buildAnnIndex]] — the ANN counterpart of
    * [[appendMinHashIndex]]: append `emb`'s vectors (norms precomputed,
    * cells pre-assigned via `labelCol`) into the stored cell table. The
    * parquet `append` adds new files inside the SAME label partition
    * directories the builder established, so [[annIvfIndexed]]'s
    * partition pruning holds across generations and existing index files
    * are never rewritten — at 100 TB each ingest adds files ∝ batch size.
    * Periodic [[compactAnnIndex]] folds the accumulated small files.
    */
  def appendAnnIndex(emb: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): Unit =
    appendAnnIndexFrom(
      emb.select(col(idCol).as("vec_id"),
          col(vecCol).cast("array<double>").as("e"), col(labelCol).as("label"))
        .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})")), dir)

  /** [[appendAnnIndex]] over a caller-derived (vec_id, e, label, nrm)
    * frame — the form [[StreamingIngest]] uses so one norm derivation per
    * epoch feeds both the semantic gate's probe and the survivor append.
    */
  def appendAnnIndexFrom(b: DataFrame, dir: String): Unit =
    b.select(col("vec_id"), col("e"), col("label"), col("nrm"))
      .repartition(col("label"))
      .write.mode("append").partitionBy("label").parquet(s"$dir/cells")

  /** Fold the small files [[appendAnnIndex]] accumulates — same swap
    * mechanics and replay-healing contract as [[compactMinHashIndex]]:
    * every row is a deterministic function of (vec_id, embedding), so an
    * exact duplicate can only be a replayed append and `dedupRows`
    * collapses it. Returns (files before, files after).
    */
  def compactAnnIndex(spark: SparkSession, dir: String): (Long, Long) =
    graft.cdc.Compaction.compactDir(spark, s"$dir/cells",
      Seq("label"), Seq("label"), dedupRows = true)

  /** Materialize the TRAINED-cell IVF serving index under `dir` — the
    * FAISS IVF-flat artifact as two parquet tables (the [[buildPqIndex]]
    * two-table discipline): `centroids/` is the C-row FROZEN coarse
    * quantizer ([[kmCentroids]] — bounded Lloyd over the capped training
    * sample), `cells/` the (vec_id, e, nrm) rows partitioned by their
    * nearest-centroid cell. [[annIvfKmIndexed]] probes it (queries
    * assign against the broadcast centroids, then prune to their cells'
    * directories); [[appendKmAnnIndex]] encodes new vectors against the
    * STORED centroids — cells freeze, vectors accumulate, drift is
    * repaid at the next rebuild (the PQ lifecycle, cell-side).
    */
  def buildKmAnnIndex(emb: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      c: Int = KmCells, trainMod: Long = PqTrainSliceMod,
      iters: Int = PqLloydIters, dim: Int = KmDim): Unit = {
    val base = embBase(GraftExtensions.register(emb), idCol, vecCol).select("vec_id", "e")
    val cents = kmCentroids(base, c, trainMod, iters, dim)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    writeKmCells(base,
      emb.sparkSession.read.parquet(s"$dir/centroids"), dir, dim,
      "overwrite")
  }

  private def writeKmCells(base: DataFrame, cents: DataFrame, dir: String,
      dim: Int, mode: String): Unit =
    base.join(kmAssign(base, cents, dim), Seq("vec_id"))
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
      .repartition(col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(s"$dir/cells")

  /** Index maintenance for [[buildKmAnnIndex]]: assign `emb`'s vectors
    * against the STORED centroids (never retrained between rebuilds)
    * and append inside the same cell partitions — pruning holds across
    * generations, append cost is the irreducible per-vector assignment.
    */
  def appendKmAnnIndex(emb: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = KmDim): Unit = {
    val cents = emb.sparkSession.read.parquet(s"$dir/centroids")
    val base = embBase(GraftExtensions.register(emb), idCol, vecCol).select("vec_id", "e")
    writeKmCells(base, cents, dir, dim, "append")
  }

  /** [[annIvfKm]] over the STORED index: queries assign against the
    * broadcast C-row centroid table, then probe ONLY their cells'
    * parquet directories — output-identical to the in-query operator
    * (equivalence spec). The trained-quantizer serving shape: per-probe
    * bytes track the probed cells' rows, the training cost is paid at
    * build, and the assignment pass over the query set is C broadcast
    * rows × batch size.
    *
    * Like every other stored probe ([[annIvfPqIndexed]], the mh/sem/
    * payload gates), the query batch's probe-cell set — bounded by
    * |batch| × nprobe, collected by one tiny eager job over the
    * assignment — pins a STATIC `.isin` partition filter on the cells
    * scan: unprobed cell directories are never opened, so an nprobe=2
    * batch at ~√n cells reads 2·|batch| directories, not all of them.
    * The pin is SIZE-GATED ([[StaticPinMaxCells]]): a corpus-sized
    * query batch whose footprint exceeds the bound falls back to the
    * dynamic-pruning semi join instead of inflating the plan with
    * 10⁴–10⁶ literals — the collect itself is limit-guarded, so the
    * driver never holds the oversized set either.
    *
    * Serving dial (what a deployer reads before picking nprobe):
    * recall@5 vs exact cosine over the 64-query gauge at C = [[KmCells]]
    * trained cells, scan cost ∝ nprobe (each probe opens one more cell
    * directory per query):
    * {{{
    *   nprobe   recall@5 (sf0.001)   recall@5 (sf0.1)   cells scanned
    *     1            0.36                0.28               1×
    *     2            0.54                0.43               2×
    *     3            0.64                0.57               3×
    * }}}
    * The label-cell baseline at the same cell count reads 0.10-0.12 —
    * training the quantizer buys 3-4× recall before the dial is touched
    * ([[annRecallIvfKm]] and the trained-vs-label A/B spec are the
    * measured sources; `llm_ann_ivfkm_idx_p2` serves the nprobe=2 point,
    * and `llm_ann_recall_ivfkm_p3` hash-checks the nprobe=3 quality-tier
    * row — cost is linear in nprobe, the cells-scanned column).
    */
  def annIvfKmIndexed(queries: DataFrame, indexDir: String, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = KmDim, nprobe: Int = 1,
      staticPinMaxCells: Int = StaticPinMaxCells): DataFrame = {
    val spark = queries.sparkSession
    val cents = readStored(spark, s"$indexDir/centroids")
    val cells = readStored(spark, s"$indexDir/cells")
    val qb = embBase(GraftExtensions.register(queries), idCol, vecCol).select("vec_id", "e")
    // nprobe = 1 is the single-cell assignment; above it each query
    // probes its nprobe nearest cells (same broadcast-probe shape, the
    // probed directory count scales with nprobe, never the index size)
    val qp =
      if (nprobe <= 1) kmAssign(qb, cents, dim)
        .withColumnRenamed("cell", "probe")
      else kmProbes(qb, cents, nprobe)
    val probeCells = qp.select("probe").distinct()
      .limit(staticPinMaxCells + 1).collect().map(_.get(0)).toSeq
    val pruned = pruneToCells(cells, "cell", probeCells, staticPinMaxCells,
      qp.select(col("probe").as("cell")))
    val q = qb.join(qp, Seq("vec_id"))
      .withColumn("qnrm", expr(s"sqrt(${dotSql("e", "e")})"))
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("probe"), col("qnrm"))
    val scored = pruned.join(broadcast(q),
        col("cell") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", expr(s"${dotSql("qe", "e")} / (qnrm * nrm)"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "cell", "cosine")
  }

  /** Cell-drift gauge over a stored [[buildKmAnnIndex]] artifact — the
    * [[pqDrift]] analog for the trained coarse quantizer, and the
    * rebuild trigger of its lifecycle: per cell, how many vectors sit
    * farther than `errBudget` (squared L2) from their own centroid, and
    * the worst offender. Appends assign against FROZEN centroids, so a
    * drifting corpus accumulates mass far from the training-time
    * centers — recall decays silently unless this alarms. One linear
    * pass joining the C-row broadcast centroid table; max/count only
    * (no float sums), so the gauge is bit-exact cross-engine. Budget
    * default 2.0: unit-norm vectors orthogonal to their centroid sit at
    * ssd = 2 − 2·cos = 2, so "beyond orthogonal" means the cell carries
    * no signal for its members.
    */
  def kmDrift(spark: SparkSession, dir: String,
      errBudget: Double = 2.0): DataFrame = {
    val cents = readStored(spark, s"$dir/centroids")
    readStored(spark, s"$dir/cells")
      .join(broadcast(cents), col("cell") === col("cid"))
      .withColumn("err", expr(ssdSql("e", "ce")))
      .groupBy(col("cell").cast("bigint").as("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("err") > errBudget, 1L).otherwise(0L)).as("n_high_err"),
        max(col("err")).as("max_err"))
  }

  /** Cell-health gauge over a stored [[buildAnnIndex]] artifact — the
    * ANN analog of [[minHashIndexStats]], and the probe-cost early
    * warning a serving operator watches between ingests: probe latency is
    * ∝ the probed cells' row counts, so a cell running hot (skewed
    * upstream cell assignment, a drifting corpus) is where the p99 comes
    * from. One combinable groupBy over the cell table's partition column
    * — never touches the vectors, cheap enough to run after every append.
    */
  def annIndexStats(spark: SparkSession, dir: String): DataFrame =
    readStored(spark, s"$dir/cells")
      .groupBy(col("label").cast("bigint").as("cell"))
      .agg(count(lit(1)).as("n_vectors"))

  /** Harness fixture for [[incrementalDedupCosineIndexed]]: the embedding
    * batch a steady-state ingest sees, built from two deterministic
    * slices of the corpus — perturbed copies of every 10th BASE vector
    * (same cell, cosine ≈ 1 with their original → must drop) and the
    * vectors beyond the base slice (genuinely new content → survive).
    * Ids offset so the perturbed slice is disjoint from everything else.
    */
  def incrementalVecBatch(emb: DataFrame, baseMax: Long = 400L): DataFrame =
    embBase(emb).filter(col("vec_id") < baseMax && col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(sequence(1, size(e)), i -> element_at(e, i) + (i % 3 - 1) * cast(0.01 as double))").as("e"),
        col("label"))
      .unionByName(embBase(emb).filter(col("vec_id") >= baseMax)
        .select(col("vec_id"), col("e"), col("label")))

  val IncrementalVecBatchSql: String =
    """SELECT vec_id + 1000000 AS vec_id,
      |       list_transform(range(1, len(e)+1), i -> e[i] + (i % 3 - 1) * CAST(0.01 AS DOUBLE)) AS e,
      |       label
      |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings)
      |WHERE vec_id < 400 AND vec_id % 10 = 0
      |UNION ALL
      |SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
      |FROM embeddings WHERE vec_id >= 400""".stripMargin

  /** The embedding-side ingest gate over a STORED ANN cell index — the
    * semantic sibling of [[incrementalDedupMinHashIndexed]]: drop each
    * batch vector whose cosine against any BASE vector of its own IVF
    * cell reaches `threshold`; the survivors are the semantically-new
    * content. The probe is one-sided and the stored index is never
    * shuffled OR broadcast: the batch's cell footprint (≤ the cell count
    * — a driver-safe collect at any batch size) pins a static partition
    * filter on the cells scan, the batch side broadcasts into the join
    * (size-gated, [[GateBroadcastMaxVecRows]] — an unbounded batch drops
    * the hint and AQE decides), and the cosine verify streams over only
    * the probed cells'
    * directories. Per-batch cost therefore tracks batch size × probed
    * cell rows — index size and unprobed cells never enter, the same
    * scaling contract as the minhash gate. Recall is cell-restricted
    * exactly like [[annIvf]]: a near-dup whose upstream cell assignment
    * differs from its copy's is missed — the IVF trade, bought back with
    * finer cells + multiprobe where it matters. A re-ingested identical
    * vector has cosine 1 with itself, so by default an epoch replay whose
    * index append committed self-cancels (the minhash gate's property);
    * the streaming loop instead passes `excludeBatchIds = true` — see
    * [[incrementalDedupCosineIndexedFrom]] for why the two gates must NOT
    * both self-cancel.
    */
  def incrementalDedupCosineIndexed(batch: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", threshold: Double = 0.99): DataFrame = {
    // the batch-derived cache backs the returned lazy frame and lives
    // until the caller's post-materialization clearCache; long-running
    // loops use the From variant and release per epoch
    val b = batch.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("e"), col(labelCol).as("label"))
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    incrementalDedupCosineIndexedFrom(b, indexDir, threshold)
  }

  /** [[incrementalDedupCosineIndexed]] over a caller-derived (and
    * caller-persisted, caller-released) (vec_id, e, label, nrm) batch
    * frame — the form [[StreamingIngest]]'s semantic gate uses so the
    * epoch's norm derivation is shared with the ANN index append.
    *
    * `excludeBatchIds` makes the probe ignore every stored vector whose
    * id is in the BATCH's own id set (an anti-join on the pruned index
    * side — the batch id set broadcasts, the index stays streamed). The
    * standalone gate defaults to false (an identical re-ingest is a dup —
    * and a replayed epoch self-cancels off its own committed append); the
    * streaming loop sets true because its two gates are appended in
    * sequence, and a replay arriving AFTER the ANN append committed must
    * re-admit exactly the survivors of the first attempt so the
    * still-missing minhash rows finally land. Excluding only SAME-ID
    * matches is not enough for that: two mutually-near survivors admitted
    * together (batch-vs-index sees neither — they entered in the same
    * epoch) would each find the OTHER's committed vector on replay and
    * both would drop — their minhash rows would then be permanently
    * missing, an absence no compaction can heal. With the whole batch id
    * set excluded the replay sees exactly the index of the first attempt
    * (partial appends included — any committed subset of the epoch's own
    * rows is invisible), re-admits the same survivors, the corpus
    * overwrite is idempotent, the ANN rows land twice (an exact
    * DUPLICATE, healed by [[compactAnnIndex]]'s dedupRows), and every
    * crash window converges to the fully-indexed state.
    *
    * The deliberate trade: batch-wide exclusion hides a stored vector
    * from EVERY batch doc's probe when its id appears in the batch — so
    * in the narrow case of a same-id rewrite of doc Y arriving in the
    * same epoch as a paraphrase of OLD stored Y, the paraphrase escapes
    * this gate. That is a bounded recall miss (one admitted near-dup,
    * recoverable by any offline [[dedupCosine]] sweep); the same-id-only
    * alternative risked the UNHEALABLE failure above — index rows
    * permanently missing. Durability beats per-epoch recall here.
    */
  def incrementalDedupCosineIndexedFrom(b: DataFrame, indexDir: String,
      threshold: Double = 0.99, excludeBatchIds: Boolean = false,
      staticPinMaxCells: Int = StaticPinMaxCells): DataFrame = {
    val cells = readStored(b.sparkSession, s"$indexDir/cells")
    // STATIC partition pruning ([[pinPartitions]] through
    // [[pruneToCells]]): collect the batch's distinct cells (bounded by
    // the cell count, not the batch) and pin them as a literal IN over
    // the cell table's partition column.
    // ONE single-row aggregate serves the footprint AND the size gate
    // (the fused-eager-job discipline of the minhash gate): collect_set
    // keeps the merge buffer bounded at the cell count, and the row
    // count rides the same row. The DRIVER side is limit-guarded like
    // the km/pq probes' `limit(maxPin + 1)` collects: the slice projects
    // at most maxPin + 1 labels out of the final merge buffer, so a
    // degenerate labeling (label ≈ id — a footprint the "⊆ cell count"
    // bound no longer keeps plan-sized) lands a bounded prefix on the
    // driver, never the whole set; maxPin + 1 elements is exactly enough
    // to distinguish "pinnable" from "overflow → dynamic pruning".
    // sort_array makes WHICH prefix deterministic (collect_set order is
    // not), so the pinned plan is stable across runs. Size gate (the
    // [[GateBroadcastMaxRows]] rationale): micro-batches keep the pinned
    // broadcast shape; an unbounded batch drops the hints and AQE
    // decides. [[GateBroadcastMaxVecRows]] governs BOTH hints: the id
    // frame is ~3 orders smaller than the vector frame, so sharing the
    // vector bound is conservative for it — past the bound AQE still
    // broadcasts the id frame off runtime stats, it just isn't forced.
    val fpRow = b.agg(
      slice(sort_array(collect_set(col("label"))),
        1, staticPinMaxCells + 1).as("fp"),
      count(lit(1)).as("n")).collect()(0)
    val batchCells = fpRow.getSeq[Any](0)
    val n = fpCount(fpRow, "n")
    // size-gated static pin ([[StaticPinMaxCells]]): the collected set
    // is ⊆ the index's cell count (driver-bounded), but a plan literal
    // per cell is not free — past the bound the probe semi-joins the
    // batch's distinct-label frame (an Aggregate — DPP-selective)
    val pruned0 = pruneToCells(cells, "label", batchCells,
      staticPinMaxCells, b.select(col("label")))
    // the epoch's own committed rows (full OR partial append) become
    // invisible via an anti-join on the batch id set — the id frame is
    // batch-sized and broadcasts; the index side stays streamed
    val pruned =
      if (excludeBatchIds)
        pruned0.join(gateBroadcast(b.select("vec_id"), n, GateBroadcastMaxVecRows),
          Seq("vec_id"), "left_anti")
      else pruned0
    val dup = pruned.as("ob").join(gateBroadcast(b.as("nb"), n, GateBroadcastMaxVecRows),
        col("nb.label") === col("ob.label"))
      .filter(expr(s"${dotSql("nb.e", "ob.e")} / (nb.nrm * ob.nrm)") >= threshold)
      .select(col("nb.vec_id").as("batch_id")).distinct()
    b.select("vec_id")
      .join(dup, col("vec_id") === col("batch_id"), "left_anti")
      .select("vec_id")
  }

  /** Materialize the IVF-PQ serving index under `dir` — the composed
    * artifact a billion-vector retrieval system actually ships (FAISS's
    * IndexIVFPQ as two parquet tables): `codebooks/` is the K-row FROZEN
    * PQ codebook ([[pqPivots]] — deterministic hash-rank training over
    * the id slice), `codes/` one row per vector holding its m centroid
    * ids packed as an array (m·log₂K bits of payload vs 512 bytes raw —
    * the 256× shrink IS the index), partitioned by the coarse cell
    * (`label`). A probe therefore prunes to its cells AND reads only
    * codes — the raw vectors never leave the build. Between rebuilds
    * [[appendPqIndex]] encodes new vectors against the stored codebook
    * (the classic PQ lifecycle: codebooks freeze, codes accumulate,
    * drift is repaid at the next rebuild), and [[compactPqIndex]] folds
    * the appended files with the usual replay-healing dedup.
    */
  def buildPqIndex(emb: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label",
      m: Int = PqSubspaces, kc: Int = PqCentroids, sub: Int = PqSubDim,
      trainMod: Long = PqTrainSliceMod, lloydIters: Int = 0): Unit = {
    val base = embBase(GraftExtensions.register(emb).withColumn("label", col(labelCol)),
      idCol, vecCol)
    val pivots =
      if (lloydIters > 0)
        pqPivotsLloyd(base.select("vec_id", "e"), kc, trainMod, m, sub,
          lloydIters)
      else pqPivots(base.select("vec_id", "e"), kc, trainMod)
    pivots.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    writePqCodes(base, emb.sparkSession.read.parquet(s"$dir/codebooks"),
      dir, m, sub, "overwrite")
  }

  /** Encode `base`'s vectors against a frozen `pivots` codebook and land
    * the packed (vec_id, codes) rows in the cell-partitioned codes table.
    */
  private def writePqCodes(base: DataFrame, pivots: DataFrame, dir: String,
      m: Int, sub: Int, mode: String): Unit =
    pqAssign(base.select("vec_id", "e"), pivots, m, sub)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(s, cid))), x -> x.cid)").as("codes"))
      .join(base.select("vec_id", "label"), Seq("vec_id"))
      .repartition(col("label"))
      .write.mode(mode).partitionBy("label").parquet(s"$dir/codes")

  /** Index maintenance for [[buildPqIndex]]: encode `emb` against the
    * STORED codebook (never retrained — append cost is the irreducible
    * per-vector encoding, flat in index size) and append inside the same
    * label partitions, so [[annIvfPqIndexed]]'s pruning holds across
    * generations.
    */
  def appendPqIndex(emb: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label",
      m: Int = PqSubspaces, sub: Int = PqSubDim): Unit = {
    val pivots = emb.sparkSession.read.parquet(s"$dir/codebooks")
    val base = embBase(emb.withColumn("label", col(labelCol)), idCol, vecCol)
    writePqCodes(base, pivots, dir, m, sub, "append")
  }

  /** Fold the codes files [[appendPqIndex]] accumulates — same swap and
    * replay-healing contract as [[compactAnnIndex]] (codes are a
    * deterministic function of (vector, stored codebook), so an exact
    * duplicate row can only be a replayed append).
    */
  def compactPqIndex(spark: SparkSession, dir: String): (Long, Long) =
    graft.cdc.Compaction.compactDir(spark, s"$dir/codes",
      Seq("label"), Seq("label"), dedupRows = true)

  /** The REBUILD leg of the PQ lifecycle — the step [[pqDrift]]'s gauge
    * triggers: retrain the codebook on the CURRENT corpus and re-encode
    * every vector against it, replacing the artifact through ONE
    * parent-level rename swap ([[graft.cdc.Compaction.swapDir]]). The
    * parent-level swap is the correctness point: `codebooks/` and
    * `codes/` must change generation TOGETHER — swapping them one at a
    * time could crash into a mixed state whose codes decode against the
    * wrong codebook (wrong, not stale). Throughout the build the old
    * generation stays in place and probe-readable; a crash at any window
    * resolves via the standard recovery (rollback leaves the old index
    * serving — drift repair is merely postponed, and re-running
    * converges). Cost is one full encode pass over `emb` — the price
    * [[appendPqIndex]]'s frozen-codebook appends amortize between
    * rebuilds; at 100 TB this runs at retrain cadence (the drift gauge's
    * policy line), never in the probe path.
    */
  def rebuildPqIndex(emb: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label",
      m: Int = PqSubspaces, kc: Int = PqCentroids, sub: Int = PqSubDim,
      trainMod: Long = PqTrainSliceMod, lloydIters: Int = 0): Unit =
    graft.cdc.Compaction.swapDir(dir) { tmp =>
      buildPqIndex(emb, tmp, idCol, vecCol, labelCol, m, kc, sub, trainMod,
        lloydIters)
    }

  /** Blocking-recall gauge for the cosine near-dup family — the
    * [[dedupRecall]] analog for [[dedupCosine]]'s sign-bucket LSH: over
    * the bounded %-`sampleMod` id subsample, TRUTH is all-pairs exact
    * cosine ≥ `threshold` (a deliberate bounded broadcast cross — the
    * same whitelist rationale as dedupRecall's truth side) and a pair
    * HITS when both ends share the sign-projection bucket the blocker
    * joins on. One row: (n_true, n_hit, recall) — the dial-reading for
    * `bucketBits` (more bits = smaller buckets = cheaper blocking =
    * lower recall), watched the same way a production LSH pipeline
    * samples its own miss rate.
    */
  def semRecall(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "e", threshold: Double = 0.99,
      bucketBits: Int = 8, sampleMod: Long = 20L): DataFrame = {
    // NOT persisted: both cross-join sides derive from the same narrow
    // subsample projection — two sample-sized scans at gauge cadence beat
    // a cache that outlives the call
    val sub = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("e"))
      .filter(col("vec_id") % sampleMod === 0)
      .withColumn("bucket", expr(signBucketSql("e", bucketBits)))
      .withColumn("nrm", expr(s"sqrt(${dotSql("e", "e")})"))
    sub.as("a").crossJoin(broadcast(sub.as("b")))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(expr(s"${dotSql("a.e", "b.e")} / (a.nrm * b.nrm)") >= threshold)
      .select((col("a.bucket") === col("b.bucket")).as("hit"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"))
      .select(col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true")).as("recall"))
  }

  /** Cell-health gauge over a stored [[buildPqIndex]] artifact — rows
    * per cell of the codes table (≡ vectors per cell: one packed-codes
    * row each). Probe cost is ∝ the probed cells' code rows, so this is
    * the [[annIndexStats]] analog for the PQ serving index — and the
    * replay-duplicate detector: a cell whose count exceeds its corpus
    * count is carrying un-compacted replayed appends.
    */
  def pqIndexStats(spark: SparkSession, dir: String): DataFrame =
    readStored(spark, s"$dir/codes")
      .groupBy(col("label").cast("bigint").as("cell"))
      .agg(count(lit(1)).as("n_vectors"))

  /** [[annIvfPq]] over the STORED index: queries prune the codes table to
    * their cell footprint (static partition IN — the
    * [[incrementalDedupCosineIndexedFrom]] discipline), reconstruct ONLY
    * the probed cells' vectors from codes + the broadcast K-row codebook,
    * and rank by asymmetric distance — output-identical to the in-query
    * operator (equivalence spec + shared oracle). The steady-state
    * serving shape: per-probe bytes = probed cells × m·log₂K bits, the
    * multiplicative IVF×PQ saving, paid for once at build.
    */
  def annIvfPqIndexed(queries: DataFrame, indexDir: String, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", sub: Int = PqSubDim,
      staticPinMaxCells: Int = StaticPinMaxCells): DataFrame = {
    val spark = queries.sparkSession
    val pivots = readStored(spark, s"$indexDir/codebooks")
    val codes = readStored(spark, s"$indexDir/codes")
    // NOT persisted: q is a narrow projection read twice (the footprint
    // collect and the broadcast join) — re-deriving it costs two tiny
    // scans, a persisted copy would outlive the call in the block manager
    val q = queries.select(col(idCol).as("qid"),
        col(vecCol).cast("array<double>").as("qe"), col(labelCol).as("qlabel"))
    // size-gated static pin (the [[StaticPinMaxCells]] discipline):
    // limit-guarded collect, dynamic-pruning semi join past the bound
    val qCells = q.select("qlabel").distinct()
      .limit(staticPinMaxCells + 1).collect().map(_.get(0)).toSeq
    val pruned = pruneToCells(codes, "label", qCells, staticPinMaxCells,
      q.select(col("qlabel").as("label")))
    val approx = pqReconstructStored(pruned, pivots, sub)
    val scored = approx.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .withColumn("adist", expr(ssdSql("qe", "approx")))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "label", "adist")
  }

  /** Codebook-drift gauge over a stored [[buildPqIndex]] artifact — the
    * rebuild trigger of the freeze-codebook/accumulate-codes lifecycle:
    * per cell, how many vectors the codes table holds, how many exceed
    * the quantization-error budget, and the worst reconstruction error.
    * [[appendPqIndex]] encodes arrivals against the FROZEN codebook, so
    * as the distribution drifts from the training sample the codes
    * reconstruct worse and ADC ranking degrades silently — this gauge is
    * where that shows first; `n_high_err/n_vectors` crossing a policy
    * line is the retrain signal, and `max_err` names the cell to look at.
    *
    * Aggregates are deliberately order-free (counts and a max — exact
    * under any reduction order, the cross-engine determinism rule), never
    * an FP sum over an unordered set; the per-vector error itself is the
    * same left-fold [[ssdSql]] both engines state. 100 TB shape: one
    * linear pass — codes reconstruct via the broadcast K-row codebook
    * (the [[annIvfPqIndexed]] reassembly, label carried through), join
    * raw vectors on vec_id, reduce to per-cell triples map-side; runs at
    * maintenance cadence like [[pqIndexStats]], never in the probe path.
    */
  def pqDrift(emb: DataFrame, indexDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label",
      sub: Int = PqSubDim, errBudget: Double = 1.0): DataFrame = {
    val spark = emb.sparkSession
    val pivots = readStored(spark, s"$indexDir/codebooks")
    val codes = readStored(spark, s"$indexDir/codes")
    val base = embBase(emb.withColumn("label", col(labelCol)), idCol, vecCol)
    val approx = pqReconstructStored(codes, pivots, sub)
    approx.join(base.select("vec_id", "e"), Seq("vec_id"))
      .withColumn("err", expr(ssdSql("e", "approx")))
      .groupBy(col("label").cast("bigint").as("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("err") > errBudget, 1L).otherwise(0L)).as("n_high_err"),
        max(col("err")).as("max_err"))
  }
}
