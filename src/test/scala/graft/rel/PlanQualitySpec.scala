package graft.rel

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.DataFrame

/** Regression tests for plan *shape* — the properties README claims are
  * asserted, not just documented: broadcast dimension joins, filter
  * pushdown into scans, top-k without a global sort, and a shuffle-free
  * CDC route.
  */
class PlanQualitySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q5: every dimension joins as broadcast, date filter pushed to scan") {
    val p = plan("q5_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "no shuffle join expected at this SF")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || p.contains("GreaterThanOrEqual(o_orderdate"), "orderdate filter must reach the scan")
  }

  test("q1: aggregation is two-phase (partial + final)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), "map-side combine expected")
    assert(p.contains("HashAggregate"))
  }

  test("q3 top-k plans as TakeOrdered, not a global sort") {
    val p = plan("q3_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("cdc_route is fully shuffle-free (no exchange at all)") {
    val p = plan("cdc_route")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 0, s"expected a narrow scan→project plan, got $exchanges exchanges:\n${p.take(1200)}")
    assert(p.contains("Generate posexplode"), "fan-out must be the built-in generator")
  }

  test("samplers take the bounded-heap aggregate path: no rank window in the plan") {
    // the skew-proof swap: at default quotas both samplers must plan the
    // MinKAgg ObjectHashAggregate (map-side combining heaps), and the
    // corpus-sized rank window — the low-cardinality skew hazard — must
    // be gone entirely
    for (q <- Seq("llm_sample_stratified", "llm_domain_mix")) {
      val p = plan(q)
      assert(!p.contains("windowspecdefinition"),
        s"$q fell back to the rank-window path:\n${p.take(1200)}")
      assert(p.contains("ObjectHashAggregate"),
        s"$q must plan the typed bounded-heap aggregator:\n${p.take(1200)}")
    }
  }

  test("domain mix: no domain-wide per-doc window in either branch") {
    // the large-quota fallback (heapMaxK = 0) must plan the bucketed
    // two-level rank, never Window.partitionBy(source) over the doc
    // frame — a domain-wide per-doc window serializes a possibly
    // corpus-sized domain onto one task. The trap shape is a window
    // spec partitioned by source with pri as the FIRST order key (the
    // in-bucket window is keyed (source, bk); the offset window orders
    // the 64-per-domain bucket aggregates by bk — both fine).
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"))
    for (heapK <- Seq(graft.llm.LlmOps.SamplerHeapMaxK, 0)) {
      val p = graft.llm.LlmOps.domainMix(d, heapMaxK = heapK)
        .queryExecution.executedPlan.toString
      assert(!"windowspecdefinition\\(source#\\d+[L]?, pri#".r
          .findFirstIn(p).isDefined,
        s"heapMaxK=$heapK planned a domain-wide per-doc window:\n${p.take(1200)}")
    }
  }

  test("stratified sample: no stratum-wide per-doc window in any branch") {
    // all FOUR reachable branches — integral/string id × heap/two-level
    // rank — must avoid Window.partitionBy(stratum) over the doc frame
    // (the low-cardinality skew trap: a corpus-sized stratum on one
    // task). Trap shape = a window spec partitioned by source with pri
    // as the FIRST order key; the two-level rank's in-bucket window is
    // keyed (source, bk) and its offset window orders the 64-per-stratum
    // bucket aggregates by bk — both fine (the domainMix pin's rule).
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"))
    val ds = d.withColumn("doc_id", col("doc_id").cast("string"))
    for {
      frame <- Seq(d, ds)
      heapK <- Seq(graft.llm.LlmOps.SamplerHeapMaxK, 0)
    } {
      val p = graft.llm.LlmOps.sampleStratified(frame, perStratum = 5,
        heapMaxK = heapK).queryExecution.executedPlan.toString
      assert(!"windowspecdefinition\\(source#\\d+[L]?, pri#".r
          .findFirstIn(p).isDefined,
        s"heapMaxK=$heapK planned a stratum-wide per-doc window:\n${p.take(1200)}")
      if (heapK > 0)
        assert(p.contains("ObjectHashAggregate"),
          s"heapMaxK=$heapK must plan the bounded-heap aggregator:\n${p.take(1200)}")
    }
  }

  test("lm calibration slice plans the bounded heap, never a language-wide pri window") {
    // the scaladoc scale claim made falsifiable (the promised-claims
    // rule): the per-language calibration sample is absolute-bounded via
    // the MinKAgg heap — the plan must carry the ObjectHashAggregate and
    // no window partitioned by lang with pri as the first order key
    val p = graft.llm.LlmOps.lmCalibSlice(graft.Tables.documents(spark, sf), Seq("lang"))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"),
      s"calibration cap must plan the bounded-heap aggregator:\n${p.take(1200)}")
    assert(!"windowspecdefinition\\(lang#\\d+, pri#".r.findFirstIn(p).isDefined,
      s"calibration must not rank language-wide per doc:\n${p.take(1200)}")
  }

  test("domain upsample is one narrow generator pass: no exchange at all") {
    // the scaladoc's scale claim made falsifiable: hash, copy count, and
    // the sequence explode all fuse into the scan stage — zero shuffles
    val p = plan("llm_domain_upsample")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 0, s"expected a scan→generate plan, got $exchanges exchanges:\n${p.take(1200)}")
    assert(p.contains("Generate explode"), "the copy fan-out must be the built-in generator")
  }

  test("range join is a bucketed equi-join: no cartesian, no nested-loop") {
    val p = plan("q_range_join")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("as-of join is one shuffle on the key plus a window, no join operator at all") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), s"union+window form must not plan a join:\n${p.take(1200)}")
    assert(p.contains("Window"), p.take(800))
  }

  test("global sweep: no query plans a cartesian product or an unintended nested loop") {
    // the two broadcast-query ANN scans intentionally cross-join against
    // a bounded 8-row broadcast side; boilerplate and tok_freq join a
    // single-row corpus total — all plan as BroadcastNestedLoopJoin by
    // construction. domain_mix crosses a 1-row global-min frame; the PQ
    // family crosses the K-row broadcast codebook and the 8-row query set.
    // dedup_recall's and sem_recall's TRUTH sides are the point of those
    // operators: all-pairs exact Jaccard/cosine over the bounded %-20
    // subsample, via broadcast.
    // ann_recall_pq composes the two whitelisted shapes (annTopK truth +
    // annPq approx), so it inherits both bounded broadcast crosses;
    // the _lloyd form is the same composition (the Lloyd refinement adds
    // only key-equi joins over the capped training set — its crosses are
    // still the K-row codebook and the bounded query set, here 64 rows).
    // llm_pack_shards crosses the 1-row token-total aggregate — the same
    // bounded class as boilerplate/tok_freq's single-row corpus totals.
    // quality_clf / qclf_agreement (the in-query corpus-as-its-own-model
    // forms) cross the 1-row class-totals aggregate into the count table
    // — the stored probe reads the totals denormalized and doesn't cross
    val intendedCross = Set("llm_ann_topk", "llm_ann_quantized",
      "llm_boilerplate", "llm_tok_freq", "llm_keywords",
      "llm_domain_mix", "llm_ann_pq", "llm_ann_pq_refine", "llm_ann_ivfpq",
      "llm_ann_recall", "llm_ann_recall_mp", "llm_ann_recall_pq",
      "llm_ann_recall_pq_lloyd",
      // the trained-cell IVF family crosses the C-row broadcast centroid
      // table for assignment (the PQ codebook shape) and the bounded
      // query set for the probe/truth sides
      "llm_ann_ivf_km", "llm_ann_ivfkm_idx", "llm_ann_ivfkm_idx_dyn",
      "llm_ann_ivfkm_idx_p2",
      "llm_ann_recall_ivfkm", "llm_ann_recall_ivfkm_p2",
      "llm_ann_recall_ivfkm_p3",
      "llm_dedup_recall", "llm_sem_recall", "llm_pack_shards",
      "llm_quality_clf", "llm_qclf_agreement")
    for ((q, _) <- SparkEntry.queries) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian product:\n${p.take(1200)}")
      if (!intendedCross(q))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q plans a nested-loop join:\n${p.take(1200)}")
    }
  }

  test("global shuffle ranks inside hash-range buckets, not one corpus-wide window") {
    val p = plan("llm_global_shuffle")
    // the corpus-sized rank must be the bucket-PARTITIONED window (bucket
    // is a partition key followed by the pri sort key) …
    assert("""windowspecdefinition\(bucket#\d+L?, pri#""".r.findFirstIn(p).isDefined,
      s"expected a bucket-partitioned rank window:\n${p.take(1200)}")
    // … while the only unpartitioned window runs over the tiny per-bucket
    // counts (sorts bucket itself), never the corpus
    assert(!"""windowspecdefinition\(pri#""".r.findFirstIn(p).isDefined,
      s"corpus-wide unpartitioned rank window found:\n${p.take(1200)}")
  }

  test("operators are SinglePartition-free — ordering belongs to the verify dump only") {
    // Full-table-output operators: at 100 TB a repartition(1) here would
    // funnel the whole result through one task. Global single-row aggs
    // (q17/q19/q6/cp_count_filtered) legitimately end in SinglePartition
    // and are not in this list.
    val fullOutput = Seq(
      "cdc_route", "cdc_commit_ts_norm", "cdc_explode_align",
      "cp_status_left_join", "cp_latest_per_key", "cp_upsert_merge",
      "q_window_running", "q_window_lag", "q_setops",
      "llm_dedup_exact", "llm_dedup_minhash", "llm_dedup_ngram",
      "llm_dedup_simhash", "llm_dedup_cosine", "llm_ann_topk",
      "llm_text_stats", "llm_token_count", "llm_fingerprint",
      "llm_train_split", "mm_media_meta", "mm_frame_sample")
    for (q <- fullOutput) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"),
        s"$q must not funnel through one partition:\n${p.take(1200)}")
    }
    // …and the dump wrapper is where the total order lives instead.
    val dumped = SparkEntry.dumpReady("q_window_lag",
      SparkEntry.queries("q_window_lag")(spark, sf))
    assert(dumped.queryExecution.executedPlan.toString.contains("SinglePartition"))
  }

  test("the native normalize_epoch_millis expression is in the executed cdc plan") {
    assert(plan("cdc_commit_ts_norm").contains("normalize_epoch_millis"))
  }

  test("ann topk: query side is broadcast") {
    assert(plan("llm_ann_topk").contains("BroadcastExchange"))
  }

  test("registerAll exposes every harness table to spark.sql") {
    graft.Tables.registerAll(spark, sf)
    val n = spark.sql(
      "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .head().getLong(0)
    assert(n > 0)
  }

  test("two-column projection reads a two-column schema (column pruning)") {
    import org.apache.spark.sql.functions.col
    val read = graft.Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<l_orderkey:") &&
      !p.contains("l_extendedprice"),
      s"scan must read only the projected columns:\n${p.take(600)}")
  }

  test("stored LSH index probe: index scans pruned and streamed, batch is the broadcast build side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries("llm_dedup_inc_mh_idx")(spark, sf)
    val p = df.queryExecution.executedPlan.toString

    // the band scan carries the batch's STATIC bucket footprint as a
    // partition filter (two flat IN lists — the cross-product
    // relaxation) — unprobed (band_idx, bk_bucket) directories are
    // never opened
    val bandsAt = p.indexOf("/bands], PartitionFilters: [")
    assert(bandsAt >= 0, s"bands scan missing partition filters:\n${p.take(1500)}")
    val bandsFilter = p.substring(bandsAt, math.min(p.length, bandsAt + 120))
    assert(bandsFilter.contains("band_idx") && bandsFilter.contains("bk_bucket") &&
        (bandsFilter.contains(" IN") || bandsFilter.contains("INSET") ||
          bandsFilter.contains("=")),
      s"bands partition filter must pin the batch's bucket set: $bandsFilter")
    // the signature scan is dynamically pruned to candidate buckets (DPP
    // reusing the verify join's broadcast of the candidate set)
    assert(p.contains("dynamicpruningexpression"),
      s"signatures scan must carry a DPP filter:\n${p.take(1500)}")

    // the stored index must NEVER be the broadcast build side: a build
    // subtree whose every leaf is an index scan is the raw index being
    // broadcast — the shape that flips to a full index shuffle at scale.
    // (A build side that MIXES index and batch leaves is a join result —
    // the bounded candidate set — and is fine.)
    val phys = df.queryExecution.sparkPlan
    val joins = phys.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "probe must plan broadcast joins")
    for (j <- joins) {
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      val leaves = build.collectLeaves()
      val idx = leaves.count(l =>
        l.toString.contains("/bands") || l.toString.contains("/signatures"))
      assert(idx == 0 || idx < leaves.size,
        s"raw stored-index table is the broadcast build side:\n${j.toString.take(800)}")
    }
  }

  test("semantic gate probe: cell scan pruned to the batch's cells, batch is the broadcast build side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries("llm_dedup_sem_idx")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the cells scan carries the batch's STATIC cell set as a partition
    // filter — unprobed cell directories are never opened
    val cellsAt = p.indexOf("/cells], PartitionFilters: [")
    assert(cellsAt >= 0, s"cells scan missing partition filters:\n${p.take(1500)}")
    val cellsFilter = p.substring(cellsAt, math.min(p.length, cellsAt + 160))
    assert(cellsFilter.contains("label"),
      s"cells partition filter must pin the batch's cell set: $cellsFilter")
    // the stored cell table must never be the broadcast build side (the
    // LSH-probe rule: an all-index-leaf build subtree = raw index
    // broadcast, the shape that flips to a full index shuffle at scale)
    val phys = df.queryExecution.sparkPlan
    val joins = phys.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "probe must plan broadcast joins")
    for (j <- joins) {
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      val leaves = build.collectLeaves()
      val idx = leaves.count(_.toString.contains("/cells"))
      assert(idx == 0 || idx < leaves.size,
        s"raw stored cell table is the broadcast build side:\n${j.toString.take(800)}")
    }
  }

  test("stored IVF-PQ probe: codes scan pruned to query cells, codes never the broadcast build side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries("llm_ann_ivfpq_idx")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val codesAt = p.indexOf("/codes], PartitionFilters: [")
    assert(codesAt >= 0, s"codes scan missing partition filters:\n${p.take(1500)}")
    assert(p.substring(codesAt, math.min(p.length, codesAt + 160)).contains("label"),
      s"codes partition filter must pin the query cells")
    // the K-row codebook broadcasting is CORRECT (it IS tiny by
    // construction); the cell-partitioned codes table must not be
    val phys = df.queryExecution.sparkPlan
    for (j <- phys.collect { case jj: BroadcastHashJoinExec => jj }) {
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      val leaves = build.collectLeaves()
      val idx = leaves.count(_.toString.contains("/codes"))
      assert(idx == 0 || idx < leaves.size,
        s"raw codes table is the broadcast build side:\n${j.toString.take(800)}")
    }
  }

  test("stored trained-cell probe: cells scan pruned to the probe set, cells never the broadcast build side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    // assert BOTH registered dial points — the nprobe=2 probe must prune
    // exactly like the single-cell one (2·|batch| directories, never all)
    for (q <- Seq("llm_ann_ivfkm_idx", "llm_ann_ivfkm_idx_p2")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      val cellsAt = p.indexOf("/cells], PartitionFilters: [")
      assert(cellsAt >= 0, s"$q: cells scan missing partition filters:\n${p.take(1500)}")
      assert(p.substring(cellsAt, math.min(p.length, cellsAt + 160)).contains("cell"),
        s"$q: cells partition filter must pin the probe-cell set")
      // the C-row centroid table broadcasting is CORRECT (bounded by
      // construction); the cell-partitioned vector table must not be.
      // Strict form: the centroid/query sides never read /cells at all,
      // so ANY /cells leaf on a build side is the raw index being
      // broadcast (the mixed-leaf allowance other probes need does not
      // apply here — a regression joining cells into a build subtree
      // must fail, not slip through as "mixed")
      val phys = df.queryExecution.sparkPlan
      for (j <- phys.collect { case jj: BroadcastHashJoinExec => jj }) {
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        val idx = build.collectLeaves().count(_.toString.contains("/cells"))
        assert(idx == 0,
          s"$q: cells table reached a broadcast build side:\n${j.toString.take(800)}")
      }
    }
    // the REGISTERED overflow-regime dial (llm_ann_ivfkm_idx_dyn,
    // staticPinMaxCells = 0): same probe, but the cells scan must prune
    // via a runtime dynamicpruningexpression — never a literal IN and
    // never unpruned — so the fallback path the synthetic-fixture test
    // below exercises is also asserted on the driver-visible query
    val dyn = SparkEntry.queries("llm_ann_ivfkm_idx_dyn")(spark, sf)
    val dp = dyn.queryExecution.executedPlan.toString
    val dynAt = dp.indexOf("/cells], PartitionFilters: [")
    assert(dynAt >= 0, s"dyn: cells scan missing partition filters:\n${dp.take(1500)}")
    val dynF = dp.substring(dynAt, math.min(dp.length, dynAt + 300))
    assert(dynF.contains("dynamicpruningexpression"),
      s"dyn regime must prune at runtime: $dynF")
    assert(!dynF.contains(" IN ("),
      s"dyn regime must not pin literals: $dynF")
  }

  test("stored probes: an oversized cell footprint falls back to dynamic pruning, never a literal pin") {
    // the StaticPinMaxCells gate's overflow regime, asserted for all
    // three unbounded-footprint probes (trained-cell, IVF-PQ, semantic
    // gate): with the pin bound forced below the batch's footprint the
    // cells/codes scan must carry a runtime dynamicpruningexpression —
    // never a literal IN over the partition column (a production batch
    // at ~√n cells would pin 10⁴–10⁶ literals into the plan), and never
    // an unpruned scan. The registered queries keep the static regime —
    // the earlier tests in this suite assert that side of the gate.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    def pf(p: String, table: String): String = {
      val at = p.indexOf(s"/$table], PartitionFilters: [")
      assert(at >= 0, s"$table scan missing partition filters:\n${p.take(1500)}")
      p.substring(at, math.min(p.length, at + 300))
    }
    val emb = (0L to 39L).map(i =>
        (i, Seq(math.cos(i * 0.7), math.sin(i * 0.7)), (i % 4).toInt))
      .toDF("vec_id", "embedding", "label")

    val kmDir = java.nio.file.Files.createTempDirectory("graft-pqs-km").toString
    val pqDir = java.nio.file.Files.createTempDirectory("graft-pqs-pq").toString
    val annDir = java.nio.file.Files.createTempDirectory("graft-pqs-ann").toString
    try {
      graft.llm.LlmOps.buildKmAnnIndex(emb, kmDir, c = 4, trainMod = 1L, dim = 2)
      val km = graft.llm.LlmOps.annIvfKmIndexed(
        emb.filter(col("vec_id") < 8), kmDir, dim = 2, nprobe = 2,
        staticPinMaxCells = 1)
      val kmF = pf(km.queryExecution.executedPlan.toString, "cells")
      assert(kmF.contains("dynamicpruningexpression"),
        s"km overflow regime must prune dynamically: $kmF")
      assert(!kmF.contains(" IN ("), s"km overflow regime must not pin literals: $kmF")
      assert(km.count() > 0, "overflow-regime probe must still return rows")

      graft.llm.LlmOps.buildPqIndex(emb, pqDir, m = 1, sub = 2)
      val pq = graft.llm.LlmOps.annIvfPqIndexed(
        emb.filter(col("vec_id") < 8), pqDir, sub = 2, staticPinMaxCells = 1)
      val pqF = pf(pq.queryExecution.executedPlan.toString, "codes")
      assert(pqF.contains("dynamicpruningexpression"),
        s"pq overflow regime must prune dynamically: $pqF")
      assert(!pqF.contains(" IN ("), s"pq overflow regime must not pin literals: $pqF")

      graft.llm.LlmOps.buildAnnIndex(emb, annDir, vecCol = "embedding")
      val vb = emb.filter(col("vec_id") >= 30)
        .select(col("vec_id"), col("embedding").as("e"), col("label"))
        .withColumn("nrm", expr("sqrt(aggregate(zip_with(e, e, (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x))"))
        .persist()
      try {
        val sem = graft.llm.LlmOps.incrementalDedupCosineIndexedFrom(
          vb, annDir, staticPinMaxCells = 1)
        val semF = pf(sem.queryExecution.executedPlan.toString, "cells")
        assert(semF.contains("dynamicpruningexpression"),
          s"sem overflow regime must prune dynamically: $semF")
        assert(!semF.contains(" IN ("), s"sem overflow regime must not pin literals: $semF")
        // the footprint collect is limit-guarded (slice to maxPin + 1 in
        // the fused agg — the km/pq probes' discipline): the bounded
        // prefix must be a pure REGIME decision, never a semantic one —
        // overflow output is row-identical to the default pinned regime
        val pinnedOut = graft.llm.LlmOps.incrementalDedupCosineIndexedFrom(
          vb, annDir).collect().map(_.getLong(0)).sorted
        val overflowOut = sem.collect().map(_.getLong(0)).sorted
        assert(overflowOut.sameElements(pinnedOut),
          s"overflow regime changed the survivor set: " +
            s"${overflowOut.mkString(",")} vs ${pinnedOut.mkString(",")}")
        // and the pinned regime's literal IN never carries more than the
        // bound: with maxPin back at default the 4-label footprint pins
        val pinnedPlan = graft.llm.LlmOps.incrementalDedupCosineIndexedFrom(
          vb, annDir).queryExecution.executedPlan.toString
        val pinF = pf(pinnedPlan, "cells")
        assert(pinF.contains(" IN ("),
          s"default regime must keep the static pin: $pinF")
      } finally vb.unpersist()
    } finally Seq(kmDir, pqDir, annDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("fluency: both corpus-count windows share one w1 exchange, no count-table join") {
    // the stored-LM probe (built by the global sweep above) PERSISTS its
    // batch-bigram frame, and the cache manager substitutes that
    // InMemoryRelation into any later plan-matching fragment — including
    // this query's bigram reduce, whose cached-plan text then inflates
    // the exchange count. Clear it: this test asserts the query's OWN
    // shape, not what a co-resident cache happens to cover.
    spark.sqlContext.clearCache()
    val p = plan("llm_fluency")
    assert(!p.contains("Join"), s"window form must not join a count table back:\n${p.take(1200)}")
    assert(p.contains("Window"), "expected window-sum corpus counts")
    // exactly two exchanges: the shared w1 window shuffle and the
    // per-doc fold — the bigram reduce happens inside each doc's own row
    // (docBigrams' in-row RLE), and a third exchange means either that reduce
    // regressed to a groupBy or the (w1, w2) window stopped reusing the
    // w1 partitioning
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2,
      s"expected 2 exchanges (shared window shuffle, fold), got $exchanges:\n${p.take(1500)}")
  }

  test("delta curation with the LM bar: both stored scans pruned, neither artifact a broadcast build side") {
    // the every-gate nightly (delta_full) must keep the identical shape:
    // its extra gram probe is the inverted-broadcast artifact and is
    // deliberately NOT in the forbidden-leaf list below. The per-language
    // nightly (delta_lang) swaps the model artifact — its bigrams scan
    // must carry the (lang, wb) footprint the same way.
    for (q <- Seq("llm_curate_delta_lm", "llm_curate_delta_full",
        "llm_curate_delta_lang"))
      assertDeltaShape(q)
  }

  private def assertDeltaShape(q: String): Unit = {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries(q)(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the near gate's band scan carries the churn's STATIC bucket set
    val bandsAt = p.indexOf("/bands], PartitionFilters: [")
    assert(bandsAt >= 0, s"bands scan missing partition filters:\n${p.take(1500)}")
    // the LM probe's model scan carries the churn's bucket footprint.
    // Checked on the scan EXEC's partitionFilters expressions, not the
    // plan text: the scan node's metadata string truncates at 100 chars,
    // which a multi-literal pin (the per-language form carries lang IN
    // (...) AND wb IN (...)) can overflow.
    val lmAt = p.indexOf("/bigrams], PartitionFilters: [")
    assert(lmAt >= 0, s"model scan missing partition filters:\n${p.take(1500)}")
    val lmScans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("/bigrams")) => s
    }
    assert(lmScans.nonEmpty, "expected a file scan of the stored model")
    assert(lmScans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "wb"))),
      "model partition filter must pin the wb bucket set")
    // neither stored artifact may be a broadcast build side (all-index-
    // leaf build subtree = raw artifact broadcast, the at-scale killer)
    val phys = df.queryExecution.sparkPlan
    for (j <- phys.collect { case x: BroadcastHashJoinExec => x }) {
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      val leaves = build.collectLeaves()
      // a cached (InMemoryTableScan) leaf is a batch-derived frame even
      // though its nested cached-plan text mentions the index paths —
      // only a FILE scan of the artifact counts as an index leaf
      val idx = leaves.count {
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => false
        case l => Seq("/bands", "/signatures", "/bigrams")
          .exists(l.toString.contains)
      }
      assert(idx == 0 || idx < leaves.size,
        s"stored artifact is the broadcast build side:\n${j.toString.take(800)}")
    }
    // no TOP-LEVEL exchange carries document text: every text-bearing
    // frame at this level is a cache read (churn-sized, persisted), and
    // the base corpus enters only inside the nested fingerprint caches —
    // the "text never crosses the churn shuffle" property. (The
    // fingerprints-cached-once property lives inside those nested cached
    // plans, recorded in PLANS.md rather than assertable here.)
    val exchanges = phys.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val textShuffles = exchanges.count(_.child.output.exists(a =>
      a.name == "text" && a.dataType.typeName == "string"))
    assert(textShuffles == 0,
      s"document text on a top-level exchange ($textShuffles) — the churn decision must shuffle hashes/ids only")
  }

  test("stored payload index probe: chunk scan pruned to the batch footprint, index never the broadcast build side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries("mm_payload_inc_idx")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the chunk scan carries the batch's STATIC (chunk_idx, ck_bucket)
    // disjunction as a partition filter — unprobed directories never open
    val chunksAt = p.indexOf("/chunks], PartitionFilters: [")
    assert(chunksAt >= 0, s"chunks scan missing partition filters:\n${p.take(1500)}")
    val chunksFilter = p.substring(chunksAt, math.min(p.length, chunksAt + 160))
    assert(chunksFilter.contains("chunk_idx"),
      s"chunks partition filter must pin the batch's footprint: $chunksFilter")
    // the stored chunk table must never be the broadcast build side
    val phys = df.queryExecution.sparkPlan
    val joins = phys.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "probe must plan broadcast joins")
    for (j <- joins) {
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      val leaves = build.collectLeaves()
      val idx = leaves.count(_.toString.contains("/chunks"))
      assert(idx == 0 || idx < leaves.size,
        s"raw stored chunk table is the broadcast build side:\n${j.toString.take(800)}")
    }
  }

  test("stored-LM fluency probe: model scan bucket-pruned and streamed, never the broadcast build side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries("llm_fluency_idx")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the model scan carries the batch's STATIC bucket footprint as a
    // partition filter — unprobed wb directories are never opened
    val at = p.indexOf("/bigrams], PartitionFilters: [")
    assert(at >= 0, s"model scan missing partition filters:\n${p.take(1500)}")
    assert(p.substring(at, math.min(p.length, at + 160)).contains("wb"),
      s"model partition filter must pin the batch's bucket set")
    // the stored model must never be the broadcast build side (the
    // stored-index rule: an all-model-leaf build subtree = the whole
    // vocabulary-sized table broadcast, the shape that dies at scale)
    val phys = df.queryExecution.sparkPlan
    for (j <- phys.collect { case jj: BroadcastHashJoinExec => jj }) {
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      val leaves = build.collectLeaves()
      val idx = leaves.count(_.toString.contains("/bigrams"))
      assert(idx == 0 || idx < leaves.size,
        s"raw stored LM table is the broadcast build side:\n${j.toString.take(800)}")
    }
  }

  test("stored-IDF keyword probe: df scan bucket-pruned and streamed, batch is the broadcast build side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries("llm_keywords_idx")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the df scan carries the batch's STATIC token-bucket footprint —
    // unprobed tb directories are never opened
    val at = p.indexOf("/df], PartitionFilters: [")
    assert(at >= 0, s"df scan missing partition filters:\n${p.take(1500)}")
    assert(p.substring(at, math.min(p.length, at + 160)).contains("tb"),
      s"df partition filter must pin the batch's bucket set")
    // the vocabulary-sized stored table must never be the broadcast
    // build side; the batch tf frame is the one that broadcasts
    val phys = df.queryExecution.sparkPlan
    val joins = phys.collect { case jj: BroadcastHashJoinExec => jj }
    assert(joins.nonEmpty, "the scored join must be a broadcast hash join")
    for (j <- joins) {
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      val leaves = build.collectLeaves()
      val idx = leaves.count(_.toString.contains("/df"))
      assert(idx == 0 || idx < leaves.size,
        s"raw stored IDF table is the broadcast build side:\n${j.toString.take(800)}")
    }
  }

  test("stored quality-classifier probe: weight scan bucket-pruned and streamed, batch is the broadcast build side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries("llm_quality_clf_idx")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the weight scan carries the batch's STATIC token-bucket footprint
    // — unprobed tb directories are never opened
    val at = p.indexOf("/w], PartitionFilters: [")
    assert(at >= 0, s"weight scan missing partition filters:\n${p.take(1500)}")
    assert(p.substring(at, math.min(p.length, at + 160)).contains("tb"),
      s"weight partition filter must pin the batch's bucket set")
    // the vocabulary-sized weight table must never be the broadcast
    // build side; the batch token frame is the one that broadcasts
    val phys = df.queryExecution.sparkPlan
    val joins = phys.collect { case jj: BroadcastHashJoinExec => jj }
    assert(joins.nonEmpty, "the scored join must be a broadcast hash join")
    for (j <- joins) {
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      val leaves = build.collectLeaves()
      val idx = leaves.count(_.toString.contains("graft-qclf"))
      assert(idx == 0 || idx < leaves.size,
        s"raw stored weight table is the broadcast build side:\n${j.toString.take(800)}")
    }
  }

  test("token-budget sampling cumsums inside (domain, hash-bucket), never one domain-wide window") {
    for (q <- Seq("llm_domain_budget", "llm_budget_upsample")) {
      val p = plan(q)
      // the corpus-sized running sum must be the bucket-partitioned window
      // (source AND bk as partition keys, pri the sort key) …
      assert("""windowspecdefinition\(source#\d+, bk#\d+L?, pri#""".r
        .findFirstIn(p).isDefined,
        s"$q: expected a (source, bk)-partitioned cumsum window:\n${p.take(1200)}")
      // … while the only source-partitioned window orders the tiny
      // per-bucket totals (sorts bk itself), never per-doc rows
      assert(!"""windowspecdefinition\(source#\d+, pri#""".r
        .findFirstIn(p).isDefined,
        s"$q: domain-wide per-doc cumsum window found:\n${p.take(1200)}")
    }
  }

  test("partition apply adds a predicate, not a shuffle: exchange count matches the partition pass") {
    def exchanges(q: String) = "Exchange".r.findAllIn(plan(q)).length
    assert(exchanges("llm_lm_partition_apply") === exchanges("llm_lm_partition"),
      "the selection rule must fuse onto the probe pass as a filter")
  }

  /** A query's rows as a set; clears the cache its pins left behind. */
  private def rows(df: => DataFrame): Set[String] = {
    val out = df.collect().map(_.toString).toSet
    spark.sqlContext.clearCache()
    out
  }

  test("full funnel: the frozen gram artifact is the broadcast build side of its membership probe") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // the ONE deliberately inverted broadcast rule: benchmark gram sets
    // are eval-suite-bounded (megabytes vs a 100 TB probe side), so THIS
    // stored table must broadcast where every other artifact must not —
    // on the global AND the per-language form of the full pipeline.
    // Asserted on the decontam frame the funnel pins: a stage pin is a
    // lazy checkpoint, so in the top-level plan the frame is a leaf, but
    // the checkpoint action reports the frame's own plan to every
    // QueryExecutionListener.
    val pinned = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f.toLowerCase.contains("checkpoint")) pinned.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def isGrams(leaf: org.apache.spark.sql.execution.SparkPlan): Boolean =
      leaf.toString.contains("/grams")
    def readsGrams(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collectLeaves().exists(isGrams)
    // some broadcast join builds on the gram artifact and nothing else
    def gramBuild(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collect { case j: BroadcastHashJoinExec => j }.exists { j =>
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        build.collectLeaves().forall(isGrams)
      }
    spark.listenerManager.register(listener)
    try {
      for (q <- Seq("llm_curate_full", "llm_curate_full_lang")) {
        pinned.clear()
        SparkEntry.queries(q)(spark, sf)
        // listener events arrive asynchronously
        val deadline = System.nanoTime() + 30L * 1000000000L
        def decontam = pinned.asScala.toSeq.map(_.sparkPlan).filter(readsGrams)
        while (decontam.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
        assert(decontam.nonEmpty, s"$q: no pinned frame reads the gram artifact")
        assert(decontam.forall(gramBuild),
          s"$q: the gram membership probe must broadcast the artifact")
        spark.sqlContext.clearCache()
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("funnel lineage truncation: both pin arms produce identical rows") {
    import scala.jdk.CollectionConverters._
    // the two stage-pin modes: local checkpoints (default) and reliable
    // checkpoints under spark.graft.cc.checkpointDir (the cluster
    // deployment setting) change WHERE pinned blocks live, never what
    // they hold — the funnel family's read-outs must be row-identical
    for (q <- Seq("llm_curate_full_clf", "llm_curate_funnel",
        "llm_curate_full_lang_apply")) {
      val local = rows(SparkEntry.queries(q)(spark, sf))
      val dir = java.nio.file.Files.createTempDirectory("graft-funnel-ckpt")
      try {
        spark.conf.set("spark.graft.cc.checkpointDir", dir.toString)
        val reliable = rows(SparkEntry.queries(q)(spark, sf))
        assert(local === reliable, s"$q: pin arms disagree")
        assert(java.nio.file.Files.walk(dir).iterator().asScala
            .exists(_.getFileName.toString.startsWith("part-")),
          s"$q: no reliable-checkpoint files were written")
      } finally {
        spark.conf.unset("spark.graft.cc.checkpointDir")
        org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      }
    }
  }

  test("fused gate pass: both arms produce identical rows") {
    import org.apache.spark.sql.functions.{col, md5, min}
    import graft.llm.{LlmOps, LlmQueries, TextAnalysis}
    // the funnel derives its stage-1 quality set and its exact-dedup
    // keepers from ONE pinned (doc_id, content_hash, keep) pass; the
    // reference is the two-pass formulation — the qualityFilter keep ids,
    // and the min(doc_id) keeper per md5 content hash, each from its own
    // corpus scan
    def ids(df: DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
      val (g, w) = (ids(got), ids(want))
      if (g != w) fail(s"$what disagree: only fused ${(g -- w).take(5)}, " +
        s"only two-pass ${(w -- g).take(5)}")
    }
    def twoPass(corpus: DataFrame): (DataFrame, DataFrame) = (
      TextAnalysis.qualityFilter(corpus).filter(col("keep")).select("doc_id"),
      corpus.groupBy(md5(col("text")))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"))
    // exact AND near copies injected, so the keeper choice is exercised
    val corpus = LlmOps.nearDupCorpus(
      LlmOps.exactDupCorpus(Tables.documents(spark, sf)))
    // the funnel / apply chain: stage 2 is quality ∩ exact keepers
    val (raw, qIds, eCorpus) = LlmOps.funnelStages(corpus, "doc_id", "text")
    val (refQ, refK) = twoPass(raw)
    assertSame(qIds, refQ, "funnel: stage-1 quality sets")
    assertSame(eCorpus, raw.join(refQ, Seq("doc_id"), "left_semi")
      .join(refK, Seq("doc_id"), "left_semi"), "funnel: stage-2 survivor sets")
    spark.sqlContext.clearCache()
    // the full / full_clf chain: the exact gate intersects the decontam
    // (and trained-clf) survivors with the keepers
    for (qualityModelDir <- Seq(None, Some(LlmQueries.qclfDir(spark, sf)))) {
      val (fRaw, fQIds, _, clean, eIds, _, _) = LlmOps.fullStages(
        corpus, LlmQueries.lmDir(spark, sf),
        LlmQueries.decontamIndexDir(spark, sf), 0.0333, 5L, "doc_id", "text",
        qualityModelDir = qualityModelDir)
      val (fRefQ, fRefK) = twoPass(fRaw)
      val arm = s"full (clf=${qualityModelDir.isDefined})"
      assertSame(fQIds, fRefQ, s"$arm: stage-1 quality sets")
      assertSame(eIds, clean.join(fRefK, Seq("doc_id"), "left_semi"),
        s"$arm: exact-stage survivor sets")
      spark.sqlContext.clearCache()
    }
  }

  /** The single-file fixture's corpus tables rewritten ≥ cores wide: each
    * scan there plans at least cores splits, so the width rule leaves
    * scan-fed frames alone, while on the single-file fixture (one split)
    * it widens them.
    */
  private lazy val wideSf: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-wide-sf").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(dir)
    val cores = spark.sparkContext.defaultParallelism
    for (t <- Seq("documents", "embeddings")) {
      spark.read.parquet(s"$sf/$t.parquet").repartition(2 * cores)
        .write.parquet(s"$dir/$t.parquet")
      assert(Tables.load(spark, sf, t).rdd.getNumPartitions == 1,
        s"fixture invalid: single-file $t must scan as one split")
      assert(Tables.load(spark, dir.toString, t).rdd.getNumPartitions >= cores,
        s"fixture invalid: wide $t must scan at least cores wide")
    }
    dir.toString
  }

  /** Rows of a corpus operator on the single-file corpus squeezed to one
    * partition (the width rule fires at every scan-fed site) vs the wide
    * copy (it fires at none); the registered query pins the operator.
    */
  private def assertDedupLayoutsAgree(q: String,
      op: DataFrame => DataFrame): Unit = {
    import graft.llm.LlmOps.nearDupCorpus
    val narrow = rows(op(nearDupCorpus(Tables.documents(spark, sf)).coalesce(1)))
    val wide = rows(op(nearDupCorpus(Tables.documents(spark, wideSf))))
    assert(narrow === wide, s"$q: layouts disagree")
    assert(rows(SparkEntry.queries(q)(spark, sf)) === narrow,
      s"$q: the operator under test is not the registered query")
  }

  test("dedup verify fan-outs: both arms produce identical rows") {
    import graft.llm.LlmOps
    // the width rule moves rows between partitions, never between
    // results — a 1-partition and a ≥ cores-wide layout of the same
    // corpus must give identical rows (the verify widens fire on both:
    // their pair frames are exchange-fed)
    assertDedupLayoutsAgree("llm_dedup_ngram", LlmOps.dedupNgram(_))
    assertDedupLayoutsAgree("llm_dedup_edit", LlmOps.dedupEdit(_))
  }

  test("ann + dedup-scan fan-outs: both arms produce identical rows") {
    import graft.llm.LlmOps
    // the ANN corpus widen, the PQ reconstruct pin and the dedup
    // signature/span widens move rows between partitions, never between
    // results — every ranking is a per-key total order ((score, vec_id)
    // ties broken) and every aggregate is key-clustered. The ANN queries
    // read the embeddings scan directly, so they run as registered on
    // both layouts.
    for (q <- Seq("llm_ann_recall_ivfkm", "llm_ann_recall_pq_lloyd",
        "llm_ann_ivfpq_idx")) {
      assert(rows(SparkEntry.queries(q)(spark, sf)) ===
        rows(SparkEntry.queries(q)(spark, wideSf)), s"$q: layouts disagree")
    }
    assertDedupLayoutsAgree("llm_dedup_minhash", LlmOps.dedupMinHash(_))
    assertDedupLayoutsAgree("llm_dedup_spans", LlmOps.dedupSpans(_))
  }

  test("per-language full funnel: model scan carries the (lang, wb) footprint, artifact never a build side") {
    // the delta pin (assertDeltaShape's model half) extended to the
    // batch surface: stage 5's stored per-language bigrams scan must be
    // partition-pruned by the survivors' (lang, wb) footprint and must
    // never be a broadcast build side (the at-scale killer)
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val df = SparkEntry.queries("llm_curate_full_lang")(spark, sf)
    val lmScans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("/bigrams")) => s
    }
    assert(lmScans.nonEmpty, "expected a file scan of the stored per-language model")
    assert(lmScans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "wb"))),
      "model partition filter must pin the wb bucket set")
    assert(lmScans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "lang"))),
      "model partition filter must pin the language set")
    for (j <- df.queryExecution.sparkPlan.collect { case x: BroadcastHashJoinExec => x }) {
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      assert(!build.collectLeaves().exists(
          _.toString.contains("/bigrams")),
        "the stored model must never be a broadcast build side")
    }
  }

  test("corpus as-of read is pure epoch partition pruning") {
    // both as-of surfaces — the text corpus and its media twin — must
    // plan the epoch bound into the scan's PartitionFilters
    for (q <- Seq("llm_corpus_asof", "mm_media_asof")) {
      val p = plan(q)
      val at = p.indexOf("PartitionFilters: [")
      assert(at >= 0 && p.substring(at, math.min(p.length, at + 120)).contains("epoch"),
        s"$q: the epoch bound must prune partitions, not filter rows:\n${p.take(1200)}")
    }
  }

  test("partitioned delivery log prunes partitions on entity filters") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft-dlog").toString
    graft.cdc.Streaming.writePartitionedLog(
      graft.cdc.Pipeline.deliveries(graft.cdc.CdcView(spark, sf)), out)
    val read = spark.read.parquet(out).filter(col("entity") === "click")
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("entity"),
      s"expected entity partition pruning:\n${p.take(600)}")
    assert(read.count() > 0)
  }
}
