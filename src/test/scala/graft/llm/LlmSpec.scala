package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Dedup / similarity / text-analysis semantics on tiny controlled frames. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))

  /** `fp` with its `field` count one past [[LlmOps.GateBroadcastMaxRows]]:
    * a probe handed this footprint row takes the over-bound (unhinted)
    * path on a small fixture.
    */
  private def overBound(fp: org.apache.spark.sql.Row, field: String) =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      fp.toSeq.updated(fp.fieldIndex(field), LlmOps.GateBroadcastMaxRows + 1).toArray,
      fp.schema)

  test("exact dedup groups identical text, keeps min doc_id") {
    val d = docs(0L -> "alpha beta gamma", 3L -> "other text here")
    val out = LlmOps.dedupExact(LlmOps.exactDupCorpus(d)).collect()
    // corpus injects a copy of doc 0 at 20000000 → group of 2 + singleton
    assert(out.length === 2)
    val g = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(0L) === 2L)
    assert(g(3L) === 1L)
  }

  test("minhash LSH finds the injected near-duplicate pairs") {
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = docs(0L -> text, 7L -> text.replace("tok5", "tok5x"),
      2L -> "completely different words entirely unrelated content")
    // corpus injects near-copies of ids 0 and 7 (both %7==0) at +10000000
    val pairs = LlmOps.dedupMinHash(LlmOps.nearDupCorpus(d))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 10000000L)))
    assert(pairs.contains((7L, 10000007L)))
    // the unrelated doc pairs with nothing
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash: identical text → identical hash; disjoint text → different") {
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "zeta eta theta iota kappa lambda")
    val m = LlmOps.simHash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(2L))
    assert(m(1L) !== m(3L))
  }

  test("containment: appended-tail near-copy scores 1.0 where jaccard is diluted") {
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = docs(0L -> text)
    // nearDupCorpus injects the +tail copy: every original shingle is
    // contained in the copy → containment 1.0; jaccard is 28/32 < 1
    val out = LlmOps.dedupContainment(LlmOps.nearDupCorpus(d)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((0L, 10000000L)) === 1.0)
  }

  test("containment: one-sided blocking surfaces short-in-long pairs the bands miss") {
    // A 5-token doc verbatim-embedded in a 200-token doc: containment is
    // 1.0, but the Jaccard-tuned minhash bands (minima over 3 vs 198
    // shingles) essentially never agree — the exact blind spot the
    // one-sided probe exists for. Assert the miss with bands-only
    // blocking AND the hit with one-sided blocking, so a future blocking
    // change can't silently regress either side.
    val long = (1 to 200).map(i => s"w$i").mkString(" ")
    val short = (50 to 54).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> long, 2L -> short)
    val bandsOnly = LlmOps.dedupContainment(d, oneSided = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!bandsOnly.contains((1L, 2L)),
      "fixture invalid: bands already block this pair — make the docs more asymmetric")
    val withOneSided = LlmOps.dedupContainment(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(withOneSided((1L, 2L)) === 1.0)
  }

  test("containment: boilerplate-headed short doc still probes (rare-first min-k)") {
    // Short doc = 30 boilerplate tokens (shared verbatim with 3 filler
    // docs) + 5 unique tokens; the long doc embeds the short doc verbatim.
    // At dfCap=2 every boilerplate-internal shingle is common (df=5), and
    // the short doc's 3 smallest shingle hashes are ALL boilerplate —
    // asserted structurally below — so the round-6 blocking (k smallest
    // OVERALL, intersected with rare afterwards) contributed zero usable
    // probes from the short doc and lost the pair. Rare-first min-k
    // (rarity filter BEFORE the ranking) restores recall 1.0: the short
    // doc's boundary/unique shingles (df=2, shared only with the long
    // doc) become its probes.
    val boiler = (1 to 30).map(i => s"boil0x$i").mkString(" ")
    val uniq   = (1 to 5).map(j => s"uniq0y$j").mkString(" ")
    val short  = s"$boiler $uniq"
    val long   = ((1 to 80).map(i => s"pre$i") ++ Seq(short) ++
      (1 to 85).map(i => s"suf$i")).mkString(" ")
    val fillers = (0 until 3).map(f =>
      (10L + f) -> (boiler + " " + (1 to 10).map(j => s"fill${f}z$j").mkString(" ")))
    val d = docs(Seq(1L -> long, 2L -> short) ++ fillers: _*)

    // structural precondition = the round-6 miss: the short doc's 3
    // smallest shingle hashes all have df > 2, so k-smallest-overall ∩
    // rare was empty for it
    val gs = LlmOps.withShingles(
        graft.plans.GraftExtensions.register(d).select(col("doc_id"), col("text")))
      .withColumn("gs", expr(
        s"array_distinct(transform(shingles, s -> ${LlmOps.h56("s")} % ${LlmOps.MersenneP}))"))
      .select(col("doc_id"), explode(col("gs")).as("g"))
    val df_ = gs.groupBy("g").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shortSmallest = gs.filter(col("doc_id") === 2L).select("g")
      .as[Long].collect().sorted.take(LlmOps.OneSidedProbeK)
    assert(shortSmallest.forall(g => df_(g) > 2),
      "fixture invalid: the short doc's smallest hashes are no longer all boilerplate")
    // and the bands alone don't rescue it
    val bandsOnly = LlmOps.dedupContainment(d, oneSided = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!bandsOnly.contains((1L, 2L)),
      "fixture invalid: bands already block this pair")

    val out = LlmOps.dedupContainment(d, dfCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) === 1.0)
  }

  test("ngram jaccard: band-blocked near-dup pair scores high, jaccard in (0,1]") {
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = docs(0L -> text)
    val out = LlmOps.dedupNgram(LlmOps.nearDupCorpus(d)).collect()
    assert(out.nonEmpty)
    val j = out.head.getDouble(2)
    assert(j > 0.5 && j <= 1.0)
  }

  test("ngram blocking survives shared-boilerplate prefixes (no giant block)") {
    // 200 docs all opening with the same 8-token boilerplate — the exact
    // corpus shape that collapsed the old substring(text,1,20) block key
    // into one O(n²) block. Band keys hash the FULL bigram set, so docs
    // sharing only boilerplate spread across buckets.
    val boiler = "copyright 2024 acme corp all rights reserved unique"
    val d = docs((0L until 200L).map(i =>
      i -> (s"$boiler body$i " + (1 to 12).map(j => s"t${i}x$j").mkString(" "))): _*)
    val bands = LlmOps.ngramBands(LlmOps.bigramTable(d))
    val maxBucket = bands.groupBy("band_idx", "band_key")
      .count().agg(max("count")).head().getLong(0)
    // old prefix key ⇒ one 200-doc block (40k candidate pairs). Band keys
    // keep the worst bucket to a few docs whose min-hashes all landed in
    // the shared boilerplate — bounded, not corpus-sized.
    assert(maxBucket <= 20,
      s"a content-derived band key must bound block mass; got a bucket of $maxBucket/200 docs")
    // and no false positives survive the exact-jaccard verify
    assert(LlmOps.dedupNgram(d).collect().isEmpty)
  }

  test("cluster resolution: transitive pairs collapse to one keeper per component") {
    // components {1,2,3} (chain), {10,11}; singletons never appear
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = LlmOps.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 3L -> ((1L, false)),
      10L -> ((10L, true)), 11L -> ((10L, false))))
  }

  test("cluster resolution: driver-side fast path ≡ distributed loop") {
    // mixed shapes — a chain, a clique-ish triangle, a 2-cycle duplicate
    // edge, an isolated pair — resolved both ways must agree exactly
    // (label = component min, keeper flags included)
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (20L, 21L), (21L, 22L),
      (20L, 22L), (30L, 31L), (31L, 30L), (40L, 41L))).toDF("id_a", "id_b")
    def dump(maxEdges: Int) =
      LlmOps.dedupClusters(pairs, smallGraphMaxEdges = maxEdges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(dump(LlmOps.SmallGraphMaxEdges) === dump(0))
    assert(LlmOps.lastClusterIterations.get() > 0, "loop run must report iterations")
    dump(LlmOps.SmallGraphMaxEdges)
    assert(LlmOps.lastClusterIterations.get() === 0, "fast path must report 0 iterations")
  }

  test("cluster resolution: deep chain converges in O(log d) rounds, not O(d)") {
    // Adversarial worst case for min-label propagation: one 512-node path
    // component (diameter 511). Plain propagation needs ~511 rounds; the
    // pointer-jump that engages at ShortcutAfterIters doubles reach per
    // round, so the loop must finish in ShortcutAfterIters + ~2·log2(512)
    // rounds. The bound asserted here is generous slack over the measured
    // count but two orders below the propagation-only cost.
    // smallGraphMaxEdges = 0 forces the distributed loop — this test
    // measures ITS convergence; the default would resolve driver-side
    val pairs = (1L until 512L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = LlmOps.dedupClusters(pairs, smallGraphMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 512)
    assert(out.values.forall(_ == 1L), "every chain node must resolve to the component min")
    val iters = LlmOps.lastClusterIterations.get()
    assert(iters <= 25,
      s"deep-chain fixpoint took $iters rounds - pointer-jump is not engaging")
  }

  test("cluster resolution: reliable-checkpoint path matches localCheckpoint and writes files") {
    // spark.graft.cc.checkpointDir is the cluster-deployment branch of the
    // CC loop (reliable checkpoints survive executor loss where
    // localCheckpoint does not). A 10-node chain forces ≥3 propagation
    // rounds, so the in-loop periodic checkpoint fires too, not just the
    // final truncate. Assert value-identical clusters and that checkpoint
    // files actually land in the directory.
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def run() = LlmOps.dedupClusters(pairs, smallGraphMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val viaLocal = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    try {
      spark.conf.set("spark.graft.cc.checkpointDir", dir.toString)
      val viaReliable = run()
      assert(viaReliable === viaLocal)
      assert(viaReliable.forall { case (_, (lbl, _)) => lbl == 1L })
      assert(LlmOps.lastClusterIterations.get() >= LlmOps.CheckpointEveryIters,
        "fixture invalid: chain too shallow to exercise the periodic checkpoint")
      val ckptFiles = java.nio.file.Files.walk(dir).iterator().asScala
        .count(p => p.getFileName.toString.startsWith("part-"))
      assert(ckptFiles > 0, "no reliable-checkpoint files were written")
    } finally {
      spark.conf.unset("spark.graft.cc.checkpointDir")
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("cluster resolution over minhash pairs: every near-dup maps to its base doc") {
    // disjoint vocabularies so 0 and 7 never pair with each other
    val textA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 30).map(i => s"beta$i").mkString(" ")
    val d = docs(0L -> textA, 7L -> textB)
    val clusters = LlmOps.dedupClusters(
      LlmOps.dedupMinHash(LlmOps.nearDupCorpus(d))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // injected copies 10000000/10000007 cluster with their originals
    assert(clusters(10000000L) === 0L)
    assert(clusters(10000007L) === 7L)
    assert(clusters(0L) === 0L && clusters(7L) === 7L)
  }

  test("dedup apply: drops non-keeper cluster members, keeps keepers and singletons") {
    // disjoint vocabularies: 0 and 7 never pair; nearDupCorpus injects a
    // near-copy of each → those copies are the non-keepers to drop
    val textA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 30).map(i => s"beta$i").mkString(" ")
    val d = docs(0L -> textA, 7L -> textB)
    val corpus = LlmOps.nearDupCorpus(d)
    val kept = LlmOps.dedupApply(corpus, LlmOps.dedupMinHash(corpus))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 7L))
  }

  test("stratified sample: exactly perStratum docs per source, ranks 1..n, deterministic") {
    val d = (1L to 20L).map(i => (i, s"text $i", if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
    val out = LlmOps.sampleStratified(d, perStratum = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(out.length === 6)
    assert(out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap ===
      Map("a" -> Seq(1L, 2L, 3L), "b" -> Seq(1L, 2L, 3L)))
    val again = LlmOps.sampleStratified(d, perStratum = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(out.sortBy(x => (x._1, x._3)).toSeq === again.sortBy(x => (x._1, x._3)).toSeq)
  }

  test("boilerplate: corpus-wide common bigram is flagged in every doc carrying it") {
    // 20 docs, each ending with the shared "footer text" bigram; doc bodies
    // are disjoint → at a 50% df threshold (10 of 20 docs) exactly that
    // one bigram qualifies (body and bridge grams have df = 1)
    val d = docs((0L until 20L).map(i =>
      i -> ((1 to 10).map(j => s"w${i}x$j").mkString(" ") + " footer text")): _*)
    val out = LlmOps.boilerplate(d, minDocFracPct = 50).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out.values.foreach { case (nGrams, nBoiler, frac) =>
      // "x10 footer" bridges body→footer and is unique per doc; only
      // "footer text" itself is corpus-wide
      assert(nBoiler === 1L)
      assert(frac === 1.0 / nGrams)
    }
  }

  test("cosine dedup: perturbed copy of every 10th vector is found") {
    val vecs = (0L until 20L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d + 1).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val pairs = LlmOps.dedupCosine(LlmOps.cosineCorpus(LlmOps.embBase(vecs)))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1000000L)))
    assert(pairs.contains((10L, 1000010L)))
  }

  test("decontamination: test doc sharing train text flags, disjoint test doc does not") {
    // recompute the split buckets with the operator's own formula so the
    // spec can place docs on the right side of the split deliberately
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(14)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val ids = (0L until 2000L)
    val trainId = ids.find(bucket(_) < 90).get
    val testIds = ids.filter(bucket(_) >= 95).take(2)
    val shared = (1 to 10).map(i => s"shared$i").mkString(" ")
    val unique = (1 to 10).map(i => s"unique$i").mkString(" ")
    val d = docs(trainId -> shared, testIds(0) -> shared, testIds(1) -> unique)
    val out = LlmOps.decontaminate(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.keySet === testIds.toSet) // only test-bucket docs are scored
    assert(out(testIds(0))._2 && out(testIds(0))._1 === 8L) // all 8 shingles leak
    assert(!out(testIds(1))._2 && out(testIds(1))._1 === 0L)
  }

  test("keywords: rare-but-frequent tokens win; common tokens sink") {
    val d = docs(1L -> "apple apple banana", 2L -> "banana cherry")
    // N=2; df: apple 1, banana 2, cherry 1
    // doc1: apple 2*2/1=4, banana 1*2/2=1; doc2: cherry 2, banana 1
    val out = LlmOps.keywords(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getDouble(5)))).toMap
    assert(out((1L, 1L)) === ("apple", 4.0))
    assert(out((1L, 2L)) === ("banana", 1.0))
    assert(out((2L, 1L)) === ("cherry", 2.0))
    assert(out((2L, 2L)) === ("banana", 1.0))
  }

  test("stored IDF model: slice probe ≡ in-query keywords on the slice; OOV tokens unrankable; gauge consistent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idf").toString
    val corpus = docs(
      1L -> "apple apple banana", 2L -> "banana cherry",
      10L -> "apple cherry cherry date", 20L -> "banana date")
    LlmOps.buildIdfModel(corpus, dir)
    // probe of a batch ⊆ build corpus reproduces the in-query scorer
    // restricted to that batch, row for row
    val batch = corpus.filter(col("doc_id") >= 10L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq.sorted
    assert(rows(LlmOps.keywordsStored(batch, dir)) ===
      rows(LlmOps.keywords(corpus).filter(col("doc_id") >= 10L)))
    // a token the frozen model never saw cannot be ranked (no df); the
    // doc's known tokens still rank
    val oov = LlmOps.keywordsStored(docs(99L -> "zebra apple"), dir).collect()
    assert(oov.map(_.getString(2)).toSet === Set("apple"),
      s"only model-vocabulary tokens may rank: ${oov.mkString(",")}")
    // gauge: vocab total equals the model's distinct tokens (4), df mass
    // equals the (doc, token) pair count
    val g = LlmOps.idfModelStats(spark, dir).collect()
    assert(g.map(_.getLong(1)).sum === 4L)
    assert(g.map(_.getLong(3)).sum === 9L)
  }

  test("trained quality classifier: hand-computed likelihood ratios; junk rejected, clean kept") {
    // two clean docs (pass every heuristic gate: 10 tokens, avg len in
    // band) + one junk doc (fails token-length band and repetition)
    val c1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val c2 = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
    val j = "zq zq zq zq zq zq zq zq zq zq zq zq"
    val d = docs(1L -> c1, 2L -> c2, 3L -> j)
    // counts: 9 shared tokens c_pos=2, juliet/kilo c_pos=1, zq c_neg=12
    // T_pos=20, T_neg=12, V=12
    // r(shared)=(3·24)/(1·32)=2.25, r(juliet)=(2·24)/(1·32)=1.5,
    // r(zq)=(1·24)/(13·32); the fold sees ONE tf-weighted value per
    // DISTINCT doc-token (the docTokens reduction): clean docs carry
    // tf=1 everywhere (unchanged), the junk doc folds the single value
    // 12·r(zq) instead of twelve copies of r(zq)
    val out = LlmOps.qualityClassify(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    def fold(vs: Seq[Double]): Double = vs.sorted.foldLeft(0.0)(_ + _)
    assert(out(1L) === ((10L, fold(Seq.fill(9)(2.25) :+ 1.5) / 10.0, true)))
    assert(out(2L) === ((10L, fold(Seq.fill(9)(2.25) :+ 1.5) / 10.0, true)))
    assert(out(3L) === ((12L, 12.0 * (24.0 / 416.0) / 12.0, false)))
  }

  test("stored quality classifier: slice probe ≡ in-query classify; OOV contributes zero; gauge and crash recovery") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qclf-spec").toString
    val corpus = LlmOps.qclfCorpus(
      docs((0L until 40L).map(i => i -> s"alpha bravo charlie delta echo foxtrot golf hotel india tok$i"): _*))
    LlmOps.buildQualityClassifier(corpus, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toSeq.sorted
    // probe of a slice ⊆ training corpus is bit-identical to the
    // in-query form restricted to the slice (both broadcast regimes)
    val slice = corpus.filter(col("doc_id") % 4 === 0)
    val direct = rows(LlmOps.qualityClassify(corpus)
      .filter(col("doc_id") % 4 === 0))
    assert(rows(LlmOps.qualityScoreStored(slice, dir)) === direct)
    assert(rows(LlmOps.qualityScoreStored(slice, dir, fpRow = Some(
      overBound(LlmOps.qclfFpAgg(slice).collect()(0), "qc_toks")))) === direct)
    // the churn/corpus-scale form (footprint = false: no eager footprint
    // job, weights unpruned, AQE join) is bit-identical too — the
    // curateDelta/curationFunnelFull gate's scorer; the inner join drops
    // the weight rows pruning would have removed, so the two forms can
    // only ever differ by a bug
    assert(rows(LlmOps.qualityScoreStored(slice, dir, footprint = false)) === direct)
    // an all-OOV doc scores 0 (below τ); a mixed doc folds only its
    // matched tokens over its FULL token count
    val probe = LlmOps.qualityScoreStored(
      docs(990L -> "zebra zebra", 991L -> "alpha zebra"), dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(probe(990L) === ((0.0, false)))
    // alpha: c_pos=40, c_neg=0; T_pos=400, T_neg=96, V=50 → exactly
    // half of alpha's ratio (≈13.3) over the doc's 2 tokens — still
    // over τ: one strong in-vocabulary token outvotes one unknown
    assert(probe(991L) === ((((41.0 * 146.0) / (1.0 * 450.0) + 0.0) / 2.0, true)))
    // gauge: occurrence mass per class matches the corpus' class split
    // (40 clean docs × 10 tokens, 8 junk twins × 12 tokens)
    val g = LlmOps.qclfStats(spark, dir).collect()
    assert(g.map(_.getLong(2)).sum === 400L)
    assert(g.map(_.getLong(3)).sum === 96L)
    // crash windows: a partial tmp write (crash during build) and a
    // crash between the two swap renames both heal at the next
    // rebuild's swapDir entry, and the probe output is unchanged
    val orphanTmp = new java.io.File(s"$dir/w.compacted")
    orphanTmp.mkdirs()
    new java.io.FileWriter(s"$orphanTmp/garbage").append("x").close()
    LlmOps.buildQualityClassifier(corpus, dir)
    assert(rows(LlmOps.qualityScoreStored(slice, dir)) === direct)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/w"),
      java.nio.file.Paths.get(s"$dir/w.pre-compaction"))
    LlmOps.buildQualityClassifier(corpus, dir)
    assert(rows(LlmOps.qualityScoreStored(slice, dir)) === direct)
  }

  test("classifier agreement gauge: perfect separation on the fixture is the full confusion diagonal") {
    val corpus = LlmOps.qclfCorpus(
      docs((0L until 20L).map(i => i -> s"alpha bravo charlie delta echo foxtrot golf hotel india tok$i"): _*))
    val m = LlmOps.qclfAgreement(corpus).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(m === Map((true, true) -> 20L, (false, false) -> 4L))
  }

  test("corpus as-of read: epoch bound exact, later epochs never surface") {
    val dir = java.nio.file.Files.createTempDirectory("graft-asof").toString + "/corpus"
    docs((0L until 12L).map(i => i -> s"body $i"): _*)
      .withColumn("epoch", col("doc_id") % 3)
      .write.partitionBy("epoch").parquet(dir)
    def ids(e: Long) = LlmOps.readCorpusAsOf(spark, dir, e)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids(0L) === (0L until 12L).filter(_ % 3 == 0).toSet)
    assert(ids(1L) === (0L until 12L).filter(_ % 3 <= 1).toSet)
    assert(ids(99L) === (0L until 12L).toSet)
  }

  test("token frequency score: exact corpus-frequency means") {
    val d = docs(1L -> "a a a", 2L -> "b")
    // freq: a=3, b=1, total=4 → doc1 mean 3/4, doc2 mean 1/4
    val out = LlmOps.tokenFreqScore(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) === ((3L, 0.75)))
    assert(out(2L) === ((1L, 0.25)))
  }

  test("hash sample: deterministic across runs, a subset of the corpus, exactly n") {
    val d = docs((0L until 50L).map(i => i -> s"body $i"): _*)
    def ids() = LlmOps.sampleByHash(d, 10).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val a = ids()
    assert(a === ids()) // no RNG anywhere → identical sample every run
    assert(a.length === 10 && a.toSet.subsetOf((0L until 50L).toSet))
    assert(a.toSet !== (0L until 10L).toSet) // hash order, not id order
  }

  test("int8 quantization: max element maps to ±127, error bounded by scale/2, zero-safe") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f), 0),
      (2L, Array(0.0f, 0.0f, 0.0f), 0) // zero vector → zeros, scale 1
    ).toDF("vec_id", "embedding", "label")
    val out = LlmOps.quantizeInt8(vecs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Seq[Int]]("q") === Seq(64, -127, 32)) // 0.5/(1/127)=63.5 → 64
    assert(math.abs(r1.getAs[Double]("scale") - 1.0 / 127) < 1e-12)
    assert(r1.getAs[Double]("max_abs_err") <= r1.getAs[Double]("scale") / 2 + 1e-12)
    val r2 = out(2L)
    assert(r2.getAs[Seq[Int]]("q") === Seq(0, 0, 0))
    assert(r2.getAs[Double]("scale") === 1.0)
    assert(r2.getAs[Double]("max_abs_err") === 0.0)
  }

  test("quantized ann matches a local reference ranking of the integer dots") {
    val raw = (0L until 20L).map { i =>
      (i, Array.tabulate(8)(d => math.cos(i * 5 + d).toFloat), 0)
    }
    val vecs = raw.toDF("vec_id", "embedding", "label")
    // reference quantization: the same max|e|/127 symmetric scheme
    def quant(v: Array[Float]): Array[Long] = {
      val e = v.map(_.toDouble)
      val mx = e.map(math.abs).max
      val scale = if (mx == 0.0) 1.0 else mx / 127.0
      e.map(x => BigDecimal(x / scale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    val codes = raw.map { case (id, v, _) => id -> quant(v) }.toMap
    val expected = (0L until 8L).flatMap { qid =>
      raw.map(_._1).filter(_ != qid)
        .map(id => (id, codes(id).zip(codes(qid)).map { case (a, b) => a * b }.sum))
        .sortBy { case (id, dot) => (-dot, id) }
        .take(3).zipWithIndex
        .map { case ((id, dot), r) => (qid, r + 1L, id, dot) }
    }.toSet
    val got = LlmOps.annQuantized(vecs, k = 3, nQueries = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("vec_id"), r.getAs[Long]("idot")))
      .toSet
    assert(got === expected)
  }

  test("semantic dedup: perturbed vector copies dropped, their originals kept") {
    val vecs = (0L until 20L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d + 1).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val corpus = LlmOps.cosineCorpus(LlmOps.embBase(vecs))
    val kept = LlmOps.dedupApply(corpus, LlmOps.dedupCosine(corpus), idCol = "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // injected near-copies (of vec 0 and 10) are the non-keepers
    assert(!kept.contains(1000000L) && !kept.contains(1000010L))
    assert(Set(0L, 10L).subsetOf(kept))
  }

  test("ann topk: k rows per query, self excluded, descending cosine") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => math.cos(i * 3 + d).toFloat), (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
    val out = LlmOps.annTopK(vecs, k = 5).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 8L).toSet)
    byQ.foreach { case (q, rows) =>
      assert(rows.length === 5)
      assert(!rows.exists(_.getAs[Long]("vec_id") == q)) // self excluded
      val cs = rows.sortBy(_.getLong(1)).map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, "descending")
    }
  }

  test("ann multiprobe: recovers the true NN one hyperplane away that lsh misses") {
    // The dominant LSH miss mode: a high-cosine neighbor that straddles
    // exactly one hyperplane. Query (id 0) has a barely-positive first
    // coordinate; its TRUE nearest neighbor (id 1) is identical except
    // that coordinate is barely negative → Hamming-1 bucket. Same-bucket
    // id 2 is a weaker match. annLsh must rank id 2 first and never see
    // id 1; annMultiprobe must find id 1 and rank it first.
    val vecs = Seq(
      (0L, Array(0.1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)),
      (1L, Array(-0.1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)), // true NN, 1 sign flip
      (2L, Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)),    // same bucket, weaker
      (3L, Array(-1f, -1f, -1f, -1f, -1f, -1f, -1f, -1f))
    ).toDF("vec_id", "embedding")
    val lsh = LlmOps.annLsh(vecs, k = 2, nQueries = 1).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap // rnk -> vec_id
    assert(lsh.values.toSet === Set(2L), "lsh must only see the same-bucket candidate")
    val mp = LlmOps.annMultiprobe(vecs, k = 2, nQueries = 1).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(mp === Map(1L -> 1L, 2L -> 2L),
      "multiprobe must recover the Hamming-1 true NN and rank it first")
  }

  test("span dedup flags exactly the duplicated 10-token windows, nothing else") {
    // docs 1 and 2 share tokens s1..s12 verbatim (doc 2 embeds them at
    // token position 4); all other tokens are unique. Only windows fully
    // inside the shared region duplicate: 12-10+1 = 3 start positions per
    // doc, boundary-crossing windows mix in unique tokens and stay unflagged.
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val d1 = s"$span " + (1 to 20).map(i => s"a$i").mkString(" ")
    val d2 = (1 to 3).map(i => s"b$i").mkString(" ") + s" $span " +
      (1 to 20).map(i => s"c$i").mkString(" ")
    val out = LlmOps.dedupSpans(docs(1L -> d1, 2L -> d2)).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L), (2L, 6L)))
    assert(out.forall(_.getAs[Long]("n_occ") === 2L))
  }

  test("span dedup apply: first occurrence kept whole, later occurrence cut exactly") {
    // same fixture as the flagging spec: the 12-token span s1..s12 lives
    // at pos 1 in doc 1 (first occurrence → kept) and pos 4 in doc 2
    // (later occurrence → its 3 overlapping cut windows cover tokens
    // 4..15, exactly the embedded span)
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val d1 = s"$span " + (1 to 20).map(i => s"a$i").mkString(" ")
    val d2 = (1 to 3).map(i => s"b$i").mkString(" ") + s" $span " +
      (1 to 20).map(i => s"c$i").mkString(" ")
    val out = LlmOps.dedupSpansApply(docs(1L -> d1, 2L -> d2)).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === ((d1, 0L)), "first occurrence must stay verbatim")
    val d2Clean = (1 to 3).map(i => s"b$i").mkString(" ") + " " +
      (1 to 20).map(i => s"c$i").mkString(" ")
    assert(out(2L) === ((d2Clean, 12L)), "later occurrence loses exactly the span")
  }

  test("edit dedup: small character edits pass, the unrelated doc never pairs") {
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = docs(0L -> text, 7L -> text.replace("tok5 ", "tok5x "),
      2L -> "completely different words entirely unrelated content here")
    // nearDupCorpus injects tail-appended copies of 0 and 7: both small
    // edits relative to ~250 chars → rel_edit ≪ 0.2
    val out = LlmOps.dedupEdit(LlmOps.nearDupCorpus(d)).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 10000000L)))
    assert(pairs.contains((7L, 10000007L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    val byPair = out.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    // the tail " graft near dup tail" is exactly 20 edits
    assert(byPair((0L, 10000000L))._1 === 20L)
    assert(byPair((0L, 10000000L))._2 < 0.2)
  }

  test("pq refine: shortlist + exact re-rank equals brute-force cosine top-k") {
    val rows = (0L until 40L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(8)(j =>
        (if (j == c * 2) 10.0f else 0.0f) + ((id * 7 + j) % 5) * 0.01f)
      (id, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    // a 20-deep shortlist holds every same-cluster candidate (9), so the
    // exact re-rank must reproduce brute force exactly, cosines included
    val refined = LlmOps.annPqRefine(emb, k = 3, shortlist = 20,
        nQueries = 2, m = 2, kc = 8, sub = 4, trainMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
    val brute = LlmOps.annTopK(emb, k = 3, nQueries = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
    assert(refined === brute)
  }

  test("pack apply: per-sequence doc slices tile the stream, straddles split exactly") {
    // budget 10: d1 (8 toks) fills seq0[1..8]; d2 (15) straddles seq0
    // [1..2], seq1 [3..12], seq2 [13..15]; d3 (4) lands wholly in seq2
    val d = docs(
      1L -> (1 to 8).map(i => s"a$i").mkString(" "),
      2L -> (1 to 15).map(i => s"b$i").mkString(" "),
      3L -> (1 to 4).map(i => s"c$i").mkString(" "))
    val out = LlmOps.packApply(d, budget = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(out === Set(
      (1L, 0L, 1L, 8L, 8L),
      (2L, 0L, 1L, 2L, 2L), (2L, 1L, 3L, 12L, 10L), (2L, 2L, 13L, 15L, 3L),
      (3L, 2L, 1L, 4L, 4L)))
  }

  test("training shards: every shard written, in-shard files in epoch order, nothing lost") {
    val d = (0L until 50L).map(i => (i, s"doc number $i body")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    LlmOps.writeTrainingShards(d, dir)
    val dirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.toSeq === (0 until 8).map(i => s"shard=$i").sorted)
    val back = spark.read.parquet(dir)
    assert(back.count() === 50L, "all docs must survive the shard write")
    assert(back.columns.toSet === Set("doc_id", "shard", "pos", "text"))
    // in-shard parquet row order is the epoch order the loader replays
    val expected = LlmOps.globalShuffle(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("shard"), r.getAs[Long]("pos"))).toMap
    (0 until 8).foreach { s =>
      val rows = spark.read.parquet(s"$dir/shard=$s").collect()
      val positions = rows.map(_.getAs[Long]("pos")).toSeq
      assert(positions === positions.sorted, s"shard $s rows must be pos-ordered")
      rows.foreach { r =>
        assert(expected(r.getAs[Long]("doc_id")) === ((s.toLong, r.getAs[Long]("pos"))))
      }
    }
  }

  test("corpus stats: one-pass dashboard counts the dup mass exactly") {
    val d = Seq(
      (1L, "a b c", "src1", "en"),
      (2L, "a b c", "src2", "en"),
      (3L, "d e", "src1", "fr")).toDF("doc_id", "text", "source", "lang")
    val r = LlmOps.corpusStats(d).collect()(0)
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("n_tokens") === 8L)
    assert(r.getAs[Long]("n_chars") === 13L)
    assert(r.getAs[Long]("n_sources") === 2L)
    assert(r.getAs[Long]("n_langs") === 2L)
    assert(r.getAs[Long]("n_unique_texts") === 2L)
    assert(r.getAs[Long]("min_tokens") === 2L)
    assert(r.getAs[Long]("max_tokens") === 3L)
    assert(r.getAs[Double]("dup_frac") === 1.0 / 3)
    assert(r.getAs[Double]("avg_tokens") === 8.0 / 3)
  }

  test("ann recall: per-query overlap of the LSH index with the exact top-k") {
    val rows = (0L until 40L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(8)(j =>
        (if (j == c * 2) 10.0f else 0.0f) + ((id * 7 + j) % 5) * 0.01f)
      (id, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = LlmOps.annRecall(emb, k = 3, nQueries = 2).collect()
      .map(r => r.getAs[Long]("qid") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Double]("recall_at_k")))).toMap
    assert(out.keySet === Set(0L, 1L))
    // cross-check against the operators themselves
    val exact = LlmOps.annTopK(emb, k = 3, nQueries = 2).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val approx = LlmOps.annLsh(emb, k = 3, nQueries = 2).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    out.foreach { case (qid, (hits, recall)) =>
      val want = exact.filter(_._1 == qid).count(approx.contains)
      assert(hits === want.toLong)
      assert(recall === want / 3.0)
    }
    // the identity check alone would accept a DEAD index (0 === 0): the
    // clustered fixture guarantees same-bucket near neighbors, so a
    // working LSH must actually hit
    assert(out.values.map(_._1).sum > 0L,
      "a clustered fixture must yield nonzero LSH recall — the index is dead")
  }

  test("ivf-pq: candidates pruned to the coarse cell, ranked by code distance") {
    val rows = (0L until 40L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(8)(j =>
        (if (j == c * 2) 10.0f else 0.0f) + ((id * 7 + j) % 5) * 0.01f)
      (id, v.toSeq, c)
    }
    // two probes that make EACH property independently falsifiable (the
    // clustered base alone passes with pruning removed OR ranking
    // inverted, since globally-best candidates are in-cell anyway):
    //   100: query-0's exact vector in a FOREIGN cell — without pruning
    //        it would ADC-rank first; with pruning it must never appear.
    //   102: a FAR vector (cluster-2's position) labeled into query-0's
    //        OWN cell — it passes pruning but quantizes to distant codes,
    //        so correct ADC ranking buries it while an inverted
    //        (worst-first) ranking would crown it top-1.
    val q0 = rows.find(_._1 == 0L).get._2
    val far = rows.find(_._1 == 2L).get._2 // cluster-2 shape
    val emb = (rows ++ Seq((100L, q0, 2), (102L, far, 0)))
      .toDF("vec_id", "embedding", "label")
    // trainMod = 1: a 40-row fixture can't seat 8 centroids from a 5% slice
    val out = LlmOps.annIvfPq(emb, k = 3, nQueries = 2, m = 2, kc = 8, sub = 4,
        trainMod = 1)
      .collect()
    assert(out.length === 6, "2 queries x top-3")
    out.foreach { r =>
      assert(r.getAs[Int]("label") === (r.getAs[Long]("qid") % 4).toInt,
        "a candidate escaped the query's coarse cell")
      assert(r.getAs[Double]("adist") >= 0.0)
    }
    val q0Top = out.filter(_.getAs[Long]("qid") == 0L).map(_.getAs[Long]("vec_id")).toSet
    assert(!q0Top.contains(100L),
      "the foreign-cell exact copy must be pruned away — pruning is not running")
    assert(!q0Top.contains(102L),
      "the far in-cell decoy must rank last — worst-first ranking would crown it")
  }

  test("pq ann: codes reconstruct cluster structure, top-k stays in-cluster") {
    // 40 vectors in R^8, four well-separated clusters (one-hot * 10 by
    // vec_id % 4) with small deterministic jitter: quantization error ≪
    // inter-cluster distance, so ADC top-3 must be same-cluster
    val rows = (0L until 40L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(8)(j =>
        (if (j == c * 2) 10.0f else 0.0f) + ((id * 7 + j) % 5) * 0.01f)
      (id, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = LlmOps.annPq(emb, k = 3, nQueries = 2, m = 2, kc = 8, sub = 4,
        trainMod = 1)
      .collect()
    assert(out.length === 6, "2 queries x top-3")
    out.foreach { r =>
      val qid = r.getAs[Long]("qid"); val vid = r.getAs[Long]("vec_id")
      assert(vid % 4 === qid % 4,
        s"neighbor $vid of query $qid crossed clusters")
      assert(r.getAs[Double]("adist") >= 0.0)
    }
  }

  /** Single-node BPE reference (Sennrich et al. alg. 1) with the same
    * tie-break — the oracle for the distributed trainer.
    */
  private def refBpe(words: Map[String, Long], n: Int): Seq[(Int, String, String, Long)] = {
    var state = words.map { case (w, c) => (w.map(_.toString).toVector, c) }.toVector
    (1 to n).flatMap { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (counts.isEmpty) None
      else {
        val ((a, b), f) = counts.toSeq.minBy { case ((a, b), f) => (-f, a, b) }
        state = state.map { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), c)
        }
        Some((r, a, b, f))
      }
    }
  }

  test("bpe train: distributed merges equal the single-node reference, ties included") {
    // the classic Sennrich fixture — 'es' and 'est' emerge before 'lo'
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val text = words.flatMap { case (w, c) => Seq.fill(c.toInt)(w) }.mkString(" ")
    val d = docs(1L -> text)
    val got = LlmOps.bpeTrain(d, nMerges = 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    val want = refBpe(words, 6)
    assert(got === want)
    assert(got.head._2 === "e" && got.head._3 === "s" && got.head._4 === 9L,
      "first merge must be (e,s) with freq 6+3")
  }

  test("bpe train: exhaustion stops the loop early with the merges found so far") {
    // 'ab ab': one merge (a,b) collapses every word to a single symbol —
    // no pairs remain, so the loop must stop at 1 merge despite nMerges=8
    val got = LlmOps.bpeTrain(docs(1L -> "ab ab"), nMerges = 8).collect()
    assert(got.length === 1)
    assert((got(0).getString(1), got(0).getString(2), got(0).getLong(3)) === (("a", "b", 2L)))
    // an all-single-char corpus trains zero merges, schema intact
    val none = LlmOps.bpeTrain(docs(2L -> "a b c a"), nMerges = 4)
    assert(none.columns.toSeq === Seq("rank", "sym_a", "sym_b", "freq"))
    assert(none.count() === 0L)
  }

  test("bpe apply: lowest-rank merge first, leftmost-greedy within a pass") {
    val merges = Seq(("e", "s"), ("es", "t"))
    // 'test': t,e,s,t →(e,s)→ t,es,t →(es,t)→ t,est = 2 tokens;
    // 'best': b,e,s,t →(e,s)→ b,es,t →(es,t)→ b,est = 2 tokens
    val out = LlmOps.bpeApply(docs(1L -> "test best", 2L -> "aaaa"), merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 4L)
    assert(out(2L) === 4L, "no applicable merge leaves raw characters")
  }

  test("checkpoint tracking reads the frame's own lineage, not a session snapshot") {
    // pinnedRddIds is how the CC/BPE truncation loops decide which blocks
    // a checkpoint pinned. A getPersistentRDDs before/after diff would
    // attribute any RDD a CONCURRENT query pinned inside the window
    // (Verify runs four queries at once on one session) to this loop and
    // later unpersist live checkpoint blocks out from under it. The
    // lineage walk must see exactly the frame's own pinned RDD, no matter
    // what else gets persisted around the call.
    val own = docs(1L -> "alpha beta gamma").localCheckpoint()
    val other = docs(2L -> "unrelated bystander frame").persist()
    other.count()
    val ids = LlmOps.pinnedRddIds(own)
    assert(ids.nonEmpty, "the local checkpoint's pinned RDD was not found")
    assert(ids.subsetOf(spark.sparkContext.getPersistentRDDs.keySet.toSet))
    // the bystander's blocks are not attributed to `own`
    val otherIds = LlmOps.pinnedRddIds(other)
    assert(ids.intersect(otherIds).isEmpty,
      "lineage walk leaked into an unrelated frame's blocks")
    // a plain un-cached frame pins nothing
    assert(LlmOps.pinnedRddIds(docs(3L -> "plain")).isEmpty)
    ids.foreach(id => spark.sparkContext.getPersistentRDDs
      .get(id).foreach(_.unpersist(blocking = false)))
    other.unpersist()
  }

  test("bpe train: checkpoint truncation never changes the merge table") {
    // Two gates. (1) A truncated run (boundary every 2 rounds) equals the
    // single-node reference — ties the checkpoint path to ground truth.
    // (2) On a 20-round vocab, two different truncation cadences agree row
    // for row — the boundaries fall on different rounds, so any
    // order/content effect of checkpointing would diverge the tables.
    // (No deep UNtruncated run on purpose: each InMemoryRelation's tree
    // string renders its child twice, so an unbroken 20-round chain makes
    // the per-job SQL-event plan description blow up exponentially — the
    // very hazard the truncation exists to cap.)
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val text1 = words.flatMap { case (w, c) => Seq.fill(c.toInt)(w) }.mkString(" ")
    val got = LlmOps.bpeTrain(docs(1L -> text1), nMerges = 6, truncateEvery = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(got === refBpe(words, 6))

    // a real-vocab-scale run: 64 rounds cross the default cadence's
    // boundary 8 times and the tight cadence's 16 times — and the loop
    // completes in bounded per-round time precisely BECAUSE it truncates
    // (the reason no untruncated 64-round control can exist, see above)
    val text2 = (1 to 40).map(i => s"prefix${i}suffix").mkString(" ")
    val d = docs(1L -> text2)
    def table(every: Int) = LlmOps.bpeTrain(d, nMerges = 64, truncateEvery = every)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    val t4 = table(4)
    assert(t4 === table(LlmOps.BpeTruncateEveryRounds))
    // the fixture runs out of productive merges at 62 — still deep enough
    // that both cadences crossed their boundaries many times (15 and 7)
    assert(t4.size >= 56, s"fixture too shallow to exercise truncation, got ${t4.size}")
  }

  test("bpe apply: corpus encode agrees with an independent single-node encoder") {
    // cross-check the distributed encode against a from-scratch reference
    // (recursive lowest-rank-first merge over strings, written differently
    // from bpeApply's vector loop) using merges trained by bpeTrain
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val text = words.flatMap { case (w, c) => Seq.fill(c.toInt)(w) }.mkString(" ")
    val d = docs(1L -> text)
    val merges = LlmOps.bpeTrain(d, nMerges = 6).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val rank = merges.zipWithIndex.toMap
    def encode(w: String): Int = {
      @annotation.tailrec
      def loop(syms: List[String]): Int = {
        val best = syms.zip(syms.drop(1)).flatMap(p => rank.get(p))
          .sorted.headOption
        best match {
          case None => syms.length
          case Some(rk) =>
            val (a, b) = merges(rk)
            val out = scala.collection.mutable.ListBuffer.empty[String]
            var rest = syms
            while (rest.nonEmpty) rest match {
              case x :: y :: tl if x == a && y == b => out += (a + b); rest = tl
              case x :: tl => out += x; rest = tl
              case Nil => ()
            }
            loop(out.toList)
        }
      }
      loop(w.map(_.toString).toList)
    }
    val wantTokens = text.split(" ").filter(_.nonEmpty).map(encode).sum.toLong
    val got = LlmOps.bpeApply(d, merges).collect()
    assert(got.length === 1)
    assert(got(0).getLong(1) === wantTokens)
  }

  test("bpe stored tokenizer: encode off the artifact equals training inline") {
    // train-once/apply-everywhere: the stored merge table round-trips
    // through parquet (rank order included) and encodes identically to
    // merges held in memory — on a corpus DIFFERENT from the training
    // sample, the regime the artifact exists for
    val train = docs(1L -> "low low low low low lower lower newest newest newest",
      2L -> "newest newest newest widest widest widest")
    val apply = docs(10L -> "lowest newest news widest low", 11L -> "zz qq")
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-spec").toString
    LlmOps.buildBpeTokenizer(train, dir, nMerges = 6)
    val inline = LlmOps.bpeTrain(train, nMerges = 6)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val wantRows = LlmOps.bpeApply(apply, inline).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotRows = LlmOps.bpeApplyStored(apply, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotRows === wantRows)
    // the artifact is the merge table itself: ranks dense from 1, in order
    val stored = spark.read.parquet(s"$dir/merges").orderBy("rank").collect()
    assert(stored.map(_.getInt(0)).toSeq === (1 to stored.length))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("curation funnel: stages compose the standalone operators in order") {
    val base = docs(
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "x y",
      4L -> "the quick brown fox jumps over the lazy dog today",
      7L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet")
    val out = LlmOps.curationFunnel(LlmOps.nearDupCorpus(base)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // raw = 4 base docs + the injected near copy of doc 7 (the only %7 id)
    assert(out("0_raw") === 5L)
    // quality drops only the 2-token doc
    assert(out("1_quality") === 4L)
    // exact dedup folds the verbatim pair (2, 4) to its min id
    assert(out("2_exact_dedup") === 3L)
    // near stage = the standalone pair+apply composition over the stage-2
    // survivors (each primitive is spec'd on its own above; cross-engine
    // CC truth is the oracle's job at the three SFs)
    val corpus = LlmOps.nearDupCorpus(base)
    val q = TextAnalysis.qualityFilter(corpus).filter(col("keep")).select("doc_id")
    val keepers = corpus.groupBy(md5(col("text")).as("ch"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val e = corpus.join(q, Seq("doc_id"), "left_semi")
      .join(keepers, Seq("doc_id"), "left_semi")
    val expected = LlmOps.dedupApply(e, LlmOps.dedupMinHash(e)).count()
    assert(out("3_near_dedup") === expected)
    assert(out("3_near_dedup") <= out("2_exact_dedup"))
    // the terminal apply materializes exactly the stage-3 survivor set
    val applied = LlmOps.curationApply(corpus).collect()
    assert(applied.length.toLong === out("3_near_dedup"))
    assert(applied.map(_.getLong(0)).toSet.subsetOf(
      e.collect().map(_.getLong(0)).toSet))
  }

  test("corpus diff: added/removed/changed classified per id, unchanged dropped by default") {
    val old = docs(1L -> "alpha beta", 2L -> "gamma delta", 3L -> "epsilon zeta")
    val next = docs(1L -> "alpha beta", 2L -> "gamma delta rev2", 4L -> "eta theta")
    val out = LlmOps.corpusDiff(old, next).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    val full = LlmOps.corpusDiff(old, next, keepUnchanged = true).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full(1L) === "unchanged" && full.size === 4)
    // fingerprints carried: a changed row shows both sides, added/removed one
    val rows = LlmOps.corpusDiff(old, next).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    assert(rows(2L)._1 != null && rows(2L)._2 != null && rows(2L)._1 != rows(2L)._2)
    assert(rows(3L)._2 == null && rows(4L)._1 == null)
  }

  test("incremental dedup: exact copies dropped, fresh content survives; bloom path agrees") {
    val base = docs(10L -> "alpha beta gamma", 14L -> "delta epsilon zeta",
      3L -> "eta theta iota")
    val batch = LlmOps.incrementalBatch(base)
    // batch = exact copy of doc 10 (+20000000, must drop) ∪ fresh-tailed
    // copies of docs 14 and 3? (only %7==0 → 14) (+30000000, must survive)
    val exact = LlmOps.incrementalDedup(base, batch).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(exact.keySet === Set(30000014L))
    val bloom = LlmOps.incrementalDedupBloom(base, batch).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bloom === exact, "bloom pre-filtered path must be bit-identical")
    // the bloom actually prunes: the base hash is contained (no false
    // negatives, guaranteed) and the fresh batch hash tests negative here
    // (deterministic for this fixed fixture), i.e. it skips the exact join
    val bf = base.select(md5(col("text")).as("h")).stat.bloomFilter("h", 3, 0.01)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    assert(bf.mightContain(md5hex("alpha beta gamma")))
    assert(!bf.mightContain(md5hex("delta epsilon zeta incremental fresh tail")))
  }

  test("incremental minhash dedup: tailed copies drop, shingle-disjoint content survives") {
    // base docs long enough that a 4-token tail keeps Jaccard ≥ 0.6 and
    // word reversal destroys every 3-shingle. Doc ids chosen so the
    // fixture slices hit: 70 → exact copy (+4e7) AND tailed copy (+5e7);
    // 13 → reversed copy (+6e7); 3 → no copies.
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val base = docs(70L -> mk("alpha"), 13L -> mk("beta"), 3L -> mk("gamma"))
    val batch = LlmOps.incrementalNearBatch(base)
    val survivors = LlmOps.incrementalDedupMinHash(base, batch).collect()
      .map(_.getLong(0)).toSet
    // exact copy 40000070 and tailed copy 50000070 are near-dups → dropped;
    // reversed 60000013 shares no 3-shingle with base → survives
    assert(survivors === Set(60000013L))
    // contrast with EXACT incremental dedup semantics: the tailed copy is
    // new content to a hash check — the near-dup gate is strictly stronger
    val batchExactShape = batch.select(col("doc_id"), col("text"))
    val exactSurvivors = LlmOps.incrementalDedup(base, batchExactShape)
      .collect().map(_.getLong(0)).toSet
    assert(exactSurvivors.contains(50000070L))
    assert(!survivors.contains(50000070L))
  }

  test("domain mix: exact target proportions, most-constrained domain caps the build") {
    // weights from the name: src1→2, src2→3, src3→1. Counts 10/9/5 →
    // caps 10 div 2 = 5, 9 div 3 = 3, 5 div 1 = 5 → t = 3 → quotas 6/9/3:
    // src2 is fully consumed (the binding constraint), the rest downsample
    val rows = (1L to 10L).map(i => (i, "src1")) ++
      (11L to 19L).map(i => (i, "src2")) ++ (21L to 25L).map(i => (i, "src3"))
    val d = rows.toDF("doc_id", "source")
    val out = LlmOps.domainMix(d).collect()
    val perSrc = out.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    assert(perSrc === Map("src1" -> 6, "src2" -> 9, "src3" -> 3))
    // quota filled by the LOWEST hash ranks — rnk within each source is 1..k_s
    val ranks = out.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("rnk")).sorted.toSeq).toMap
    assert(ranks("src1") === (1L to 6L))
    assert(ranks("src3") === (1L to 3L))
  }

  test("domain mix: explicit weight map overrides the name rule, unlisted domains drop") {
    // web:news = 3:1 over 12/8 docs → caps 12 div 3 = 4, 8 div 1 = 8 →
    // t = 4 → quotas 12/4; 'junk' has no weight listed → excluded entirely
    val rows = (1L to 12L).map(i => (i, "web")) ++
      (21L to 28L).map(i => (i, "news")) ++ (31L to 33L).map(i => (i, "junk"))
    val out = LlmOps.domainMix(rows.toDF("doc_id", "source"),
      weights = Map("web" -> 3L, "news" -> 1L)).collect()
    val perSrc = out.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    assert(perSrc === Map("web" -> 12, "news" -> 4))
  }

  test("stratified sample: bounded-heap path ≡ rank-window path on a skewed corpus") {
    // 3 strata with few-huge-domains skew (200/10/3 docs) — the shape that
    // degrades the window path to one hot partition at scale. The MinKAgg
    // path (default) must reproduce the window path (heapMaxK = 0) row for
    // row: same docs, same pri, same ranks.
    val rows = (1L to 200L).map(i => (i, s"t$i", "big")) ++
      (301L to 310L).map(i => (i, s"t$i", "mid")) ++
      (401L to 403L).map(i => (i, s"t$i", "tiny"))
    val d = rows.toDF("doc_id", "text", "source")
    def dump(heapMaxK: Int) =
      LlmOps.sampleStratified(d, perStratum = 5, heapMaxK = heapMaxK)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(x => (x._1, x._4))
    val heap = dump(LlmOps.SamplerHeapMaxK)
    val window = dump(0)
    assert(heap === window)
    // skew shape sanity: the tiny stratum keeps all 3, the others exactly 5
    assert(heap.count(_._1 == "tiny") === 3)
    assert(heap.count(_._1 == "big") === 5)
  }

  test("stratified sample: string ids ride the bounded heap and match the rank form row-for-row") {
    // the real-web-corpus key shape (string URLs): the heap carries a
    // second salted id hash and joins the ids back — output must equal
    // the two-level-rank form (heapMaxK = 0) on every column, and the
    // quota law must hold on the skewed 200/10/3 shape
    val rows = (1L to 200L).map(i => (s"url://big/$i", s"t$i", "big")) ++
      (301L to 310L).map(i => (s"url://mid/$i", s"t$i", "mid")) ++
      (401L to 403L).map(i => (s"url://tiny/$i", s"t$i", "tiny"))
    val d = rows.toDF("doc_id", "text", "source")
    def dump(heapMaxK: Int) =
      LlmOps.sampleStratified(d, perStratum = 5, heapMaxK = heapMaxK)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(x => (x._1, x._4))
    val heap = dump(LlmOps.SamplerHeapMaxK)
    val rank = dump(0)
    assert(heap === rank)
    assert(heap.count(_._1 == "tiny") === 3)
    assert(heap.count(_._1 == "big") === 5)
    assert(heap.groupBy(_._1).forall { case (_, g) =>
      g.map(_._4).sorted == (1L to g.length) },
      s"ranks must be dense 1..k within each stratum: $heap")
  }

  test("domain mix: bounded-heap path ≡ rank-window path on a skewed corpus") {
    // src1 weight 2 over 120 docs, src2 weight 3 over 9, src3 weight 1
    // over 5 → caps 60/3/5 → t = 3 → quotas 6/9/3, with src1 the huge
    // domain whose window would hot-spot. Equivalence must hold on every
    // output column (doc_id, w, rnk, k_s).
    val rows = (1L to 120L).map(i => (i, "src1")) ++
      (201L to 209L).map(i => (i, "src2")) ++ (301L to 305L).map(i => (i, "src3"))
    val d = rows.toDF("doc_id", "source")
    def dump(heapMaxK: Int) =
      LlmOps.domainMix(d, heapMaxK = heapMaxK).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(x => (x._1, x._4))
    val heap = dump(LlmOps.SamplerHeapMaxK)
    val window = dump(0)
    assert(heap === window)
    assert(heap.groupBy(_._1).view.mapValues(_.length).toMap ===
      Map("src1" -> 6, "src2" -> 9, "src3" -> 3))
  }

  test("domain upsample: full copies exact, fractional copy matches an independent md5, unlisted domains drop") {
    val rows = (1L to 10L).map(i => (i, "web")) ++
      (21L to 30L).map(i => (i, "wiki")) ++
      (41L to 50L).map(i => (i, "news")) ++ (61L to 63L).map(i => (i, "junk"))
    val d = rows.toDF("doc_id", "source")
    val w = Map("web" -> 2000L, "wiki" -> 1250L, "news" -> 500L)
    val out = LlmOps.domainUpsample(d, weightsPermille = w).collect()
    // the fractional-copy decision recomputed OUTSIDE Spark: first 7 md5
    // bytes of the salted key, big-endian — the h56 definition
    def ref(id: Long): Long = BigInt(1, java.security.MessageDigest
      .getInstance("MD5").digest(s"up|$id".getBytes("UTF-8")).take(7)).toLong
    val copies = out.groupBy(r => r.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("epoch")).sorted.toSeq).toMap
    // web at 2000‰: exactly 2 copies per doc, epochs 1..2, no hash involved
    (1L to 10L).foreach(id => assert(copies(id) === Seq(1L, 2L)))
    // wiki at 1250‰: one full copy always, the second iff hash%1000 < 250
    (21L to 30L).foreach { id =>
      val want = if (ref(id) % 1000 < 250) Seq(1L, 2L) else Seq(1L)
      assert(copies(id) === want, s"doc $id")
    }
    // news at 500‰: fractional only — present iff hash%1000 < 500
    (41L to 50L).foreach { id =>
      val want = if (ref(id) % 1000 < 500) Seq(Seq(1L)) else Seq.empty
      assert(copies.get(id).toSeq === want, s"doc $id")
    }
    // junk has no listed weight → contributes nothing
    assert(!out.exists(_.getAs[String]("source") == "junk"))
    // deterministic: a rerun reproduces the multiset row-for-row
    val again = LlmOps.domainUpsample(d, weightsPermille = w).collect()
    assert(out.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("token-budget sampling: maximal hash-order prefix per domain vs an independent md5 recompute; boundaries and unlisted domains") {
    // docs with controlled token counts: doc i has (i % 5 + 2) tokens
    val rows = ((1L to 30L).map(i => (i, "web")) ++
      (41L to 60L).map(i => (i, "wiki")) ++ (81L to 83L).map(i => (i, "junk")))
      .map { case (i, s) => (i, s, ("w " * (i % 5 + 2).toInt).trim) }
    val d = rows.toDF("doc_id", "source", "text")
    val budgets = Map("web" -> 40L, "wiki" -> 10000L, "tiny" -> 1L)
    val out = LlmOps.sampleByTokenBudget(d, budgets = budgets).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the prefix rule recomputed OUTSIDE Spark: h56 order, running sum,
    // keep while inclusive sum <= budget — the operator's whole contract
    def pri(id: Long): Long = BigInt(1, java.security.MessageDigest
      .getInstance("MD5").digest(s"budget|$id".getBytes("UTF-8")).take(7)).toLong
    def expect(ids: Seq[Long], b: Long): Seq[(Long, Long, Long)] = {
      var cum = 0L
      ids.sortBy(i => (pri(i), i)).iterator.map { i =>
        cum += i % 5 + 2; (i, i % 5 + 2, cum)
      }.takeWhile(_._3 <= b).toSeq
    }
    val web = expect(1L to 30L, 40L)
    assert(out.filter(_._1 == "web").sortBy(_._4).map(t => (t._2, t._3, t._4))
      === web.map(t => (t._1, t._2, t._3)), "web prefix must match the recompute")
    assert(web.nonEmpty && web.size < 30, "fixture: web must be a STRICT prefix")
    // budget over the domain total keeps every doc
    assert(out.count(_._1 == "wiki") === 20)
    // unlisted domain drops out entirely
    assert(!out.exists(_._1 == "junk"))
    // the name-rule default: srcN budgets, same prefix law
    val dd = (1L to 25L).map(i => (i, "src1", ("w " * (i % 5 + 2).toInt).trim))
      .toDF("doc_id", "source", "text")
    val defOut = LlmOps.sampleByTokenBudget(dd).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._3)
    assert(defOut === expect(1L to 25L, (1 % 4 + 1) * 400L),
      "src1 default budget = 800 tokens, same prefix rule")
  }

  test("token-budget upsampling: full epochs + remainder prefix vs an independent recompute; exact-multiple and tiny-budget boundaries") {
    val rows = ((1L to 30L).map(i => (i, "web")) ++
      (41L to 60L).map(i => (i, "wiki")) ++ (81L to 83L).map(i => (i, "junk")))
      .map { case (i, s) => (i, s, ("w " * (i % 5 + 2).toInt).trim) }
    val d = rows.toDF("doc_id", "source", "text")
    def pri(id: Long): Long = BigInt(1, java.security.MessageDigest
      .getInstance("MD5").digest(s"budget|$id".getBytes("UTF-8")).take(7)).toLong
    // independent recompute of the closed form: k = B div T full epochs
    // for every doc, plus epoch k+1 for the remainder's hash-order prefix
    def expect(ids: Seq[Long], b: Long): Map[Long, Long] = {
      val toks = ids.map(i => i -> (i % 5 + 2)).toMap
      val t = toks.values.sum
      val k = b / t
      var cum = 0L
      val extra = ids.sortBy(i => (pri(i), i)).iterator.map { i =>
        cum += toks(i); (i, cum)
      }.takeWhile(_._2 <= b % t).map(_._1).toSet
      ids.map(i => i -> (k + (if (extra(i)) 1L else 0L)))
        .filter(_._2 > 0).toMap
    }
    // web: T = 120; budget 300 = 2 full epochs + a 60-token prefix.
    // wiki: T = 80; budget 240 = exactly 3 epochs, remainder 0 ⇒ no extra
    val budgets = Map("web" -> 300L, "wiki" -> 240L)
    val out = LlmOps.upsampleToTokenBudget(d, budgets = budgets).collect()
      .groupBy(r => (r.getString(0), r.getLong(1)))
      .view.mapValues(_.map(_.getLong(3)).sorted.toSeq).toMap
    val webWant = expect(1L to 30L, 300L)
    assert(webWant.values.toSet === Set(2L, 3L), "fixture: both arms populated")
    for (i <- 1L to 30L)
      assert(out.get(("web", i)).getOrElse(Seq.empty) ===
        (1L to webWant.getOrElse(i, 0L)), s"web doc $i")
    for (i <- 41L to 60L)
      assert(out(("wiki", i)) === Seq(1L, 2L, 3L), s"wiki doc $i: exact multiple = whole epochs only")
    assert(!out.keys.exists(_._1 == "junk"), "unlisted domain contributes nothing")
    // a budget under the first doc's tokens keeps nothing of the domain
    val tiny = LlmOps.upsampleToTokenBudget(d, budgets = Map("web" -> 1L)).collect()
    assert(tiny.isEmpty, "sub-doc budget must produce an empty domain")
  }

  test("pack shards: contiguous token ranges, mass within one max-doc of ideal, monotone in stream order") {
    val d = docs((1L to 40L).map(i => i -> ("w " * (i % 7 + 1).toInt).trim): _*)
    val out = LlmOps.packShards(d, shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val total = out.map(_._2).sum
    val maxDoc = out.map(_._2).max
    val byShard = out.groupBy(_._4)
    assert(byShard.keySet === Set(0L, 1L, 2L, 3L))
    // a shard owns [k·T/4, (k+1)·T/4): its mass can exceed the ideal
    // only by the one doc straddling its upper boundary
    for ((s, rows) <- byShard)
      assert(rows.map(_._2).sum <= total / 4 + maxDoc, s"shard $s overweight")
    // assignment is monotone in the doc_id stream order ⇒ every shard is
    // a contiguous slice of the token stream
    assert(out.map(_._4).toSeq === out.map(_._4).toSeq.sorted)
    assert(LlmOps.packShards(d, shards = 1).collect()
      .forall(_.getLong(3) == 0L))
  }

  test("global shuffle: idx is a permutation, shards balanced ±1, order follows the hash") {
    val d = (0L until 100L).toDF("doc_id")
    val out = LlmOps.globalShuffle(d).collect()
    assert(out.map(_.getAs[Long]("idx")).sorted.toSeq === (0L until 100L))
    // round-robin shards: 100 docs over 8 shards → four of 13, four of 12
    val sizes = out.groupBy(_.getAs[Long]("shard")).view.mapValues(_.length).values.toSeq.sorted
    assert(sizes === Seq(12, 12, 12, 12, 13, 13, 13, 13))
    // the permutation IS the (pri, doc_id) sort order — the bucketed
    // two-level rank must equal the naive global window
    val byIdx = out.sortBy(_.getAs[Long]("idx"))
      .map(r => (r.getAs[Long]("pri"), r.getAs[Long]("doc_id"))).toSeq
    assert(byIdx === byIdx.sorted)
    // pos is the in-shard cursor in global order
    out.foreach { r =>
      assert(r.getAs[Long]("pos") === r.getAs[Long]("idx") / 8)
    }
  }

  test("pack sequences: global offsets across shards, spans straddle the budget") {
    // shardSize=2 forces the two-level prefix sum across 3 shards;
    // budget=5 makes doc 3 straddle sequences 0-1 and doc 6 start exactly
    // on a boundary. Token counts: 3,4,2,5,1,3 → offsets 0,3,7,9,14,15.
    val d = docs(
      1L -> "a b c", 2L -> "d e f g", 3L -> "h i",
      4L -> "j k l m n", 5L -> "o", 6L -> "p q r")
    val out = LlmOps.packSequences(d, budget = 5, shardSize = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(
      1L -> ((3L, 0L, 0L, 0L)),   // tokens 0-2   → seq 0
      2L -> ((4L, 3L, 0L, 1L)),   // tokens 3-6   → straddles 0→1
      3L -> ((2L, 7L, 1L, 1L)),
      4L -> ((5L, 9L, 1L, 2L)),
      5L -> ((1L, 14L, 2L, 2L)),
      6L -> ((3L, 15L, 3L, 3L)))) // starts exactly on the seq-3 boundary
    // scale guard: the corpus-sized window must be partitioned by shard —
    // only the tiny shard-totals window may be unpartitioned
    val plan = LlmOps.packSequences(d, budget = 5, shardSize = 2)
      .queryExecution.optimizedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.exists(_.contains("shard")), "per-doc cumsum must partition by shard")
  }

  test("flipBitSql flips exactly position i, including both boundary bits") {
    // bit 1 exercises the empty head substr, bit 8 the empty tail substr —
    // the off-by-one hazards of the shared Spark/DuckDB flip expression
    val base = "10110010"
    val df = Seq(base).toDF("b")
    (1 to 8).foreach { i =>
      val flipped = df.selectExpr(LlmOps.flipBitSql("b", i, 8)).head.getString(0)
      assert(flipped.length === 8, s"bit $i changed the length")
      flipped.zipWithIndex.foreach { case (c, j) =>
        if (j == i - 1) assert(c !== base(j), s"bit $i not flipped")
        else assert(c === base(j), s"bit $i disturbed position ${j + 1}")
      }
    }
  }

  test("quality filter: each rule fires on its own pathology, clean doc keeps") {
    val clean = (1 to 30).map(i => s"word$i").mkString(" ")
    val d = docs(
      1L -> clean,                                    // keeps
      2L -> "too short",                              // < 10 tokens
      3L -> (1 to 15).map(_ => "pneumonoultramicroscopicsilico").mkString(" "), // avg len
      4L -> ((1 to 20).map(_ => "spam spam spam").mkString(" ")), // repetition
      5L -> ((1 to 15).map(i => s"w$i!!!???##").mkString(" ")),   // punct density
      6L -> ('a' to 'o').mkString(" "))  // 15 single-char tokens → low band cut
    val out = TextAnalysis.qualityFilter(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Boolean]("fail_short") && !out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Boolean]("fail_token_len") && !out(3L).getAs[Boolean]("keep"))
    assert(out(4L).getAs[Boolean]("fail_repetition") && !out(4L).getAs[Boolean]("keep"))
    assert(out(5L).getAs[Boolean]("fail_punct") && !out(5L).getAs[Boolean]("keep"))
    // the Gopher band is two-sided: single-char gibberish fails LOW
    assert(out(6L).getAs[Boolean]("fail_token_len") && !out(6L).getAs[Boolean]("keep"))
  }

  test("text stats: token counts and ratios") {
    val d = docs(1L -> "the cat sat, on the mat!")
    val r = TextAnalysis.textStats(d).collect()(0)
    assert(r.getAs[Long]("n_tokens") === 6L)
    assert(r.getAs[Long]("punct_n") === 2L) // ',' and '!'
    assert(r.getAs[Double]("stop_ratio") === 2.0 / 6.0) // two 'the'
  }

  test("lang id: profile hits drive prediction, no hits → und") {
    val d = Seq((1L, "the fast data of the table", "en"),
        (2L, "zzz qqq xxx", "zh"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t")).withColumn("n_chars", lit(1L))
    val m = TextAnalysis.langId(d).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("predicted")).toMap
    assert(m(1L) === "en")
    assert(m(2L) === "und")
  }

  test("fingerprint: deterministic and content-sensitive") {
    val a = TextAnalysis.fingerprint(docs(1L -> "alpha beta gamma delta")).collect()(0)
    val b = TextAnalysis.fingerprint(docs(1L -> "alpha beta gamma delta")).collect()(0)
    val c = TextAnalysis.fingerprint(docs(1L -> "alpha beta gamma delts")).collect()(0)
    assert(a.getLong(1) === b.getLong(1))
    assert(a.getLong(1) !== c.getLong(1))
  }

  test("multimodal: meta prunes payload, frame fan-out is 1+id%4") {
    val d = docs(5L -> ("x" * 100))
    val meta = Multimodal.mediaMeta(d).collect()(0)
    assert(meta.getAs[Long]("n_bytes") === 100L)
    val frames = Multimodal.frameSample(d).collect()
    assert(frames.length === 2) // 1 + 5%4
    assert(frames.map(_.getAs[Long]("frame_idx")).toSeq === Seq(0L, 1L))
  }

  test("media header decode: real magic + dims for all three formats, unknown contract, typed map ≡ SQL form") {
    // ids picked to hit all four doc_id % 4 arms: 0=png, 1=jpeg, 2=gif,
    // 3=headerless; dims derive from the id (width 64+(id%16)*8 etc.).
    // The four jpeg ids cover all (id div 4) % 4 layouts: 1 = bare
    // SOI+SOF0, 5 = APP0 with a byte-aligned FFC0 DECOY in its payload
    // before the real SOF0 (a first-match scan reads wrong dims here;
    // the segment walk must not), 9 = DQT-shaped hop + progressive SOF2,
    // 13 = a 180-byte Exif-shaped APP1 (with its own decoy) before SOF0
    // — the realistic camera-output shape: the frame header sits at
    // byte 184, past any 32-byte window but inside the 256-byte one
    val d = docs(4L -> "png body", 1L -> "jpeg v0", 5L -> "jpeg body",
      9L -> "jpeg v2", 13L -> "jpeg exif", 6L -> "gif body",
      7L -> "raw body")
    val enc = Multimodal.mediaEncoded(d)
    def dump(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "format", "width_px", "height_px", "n_bytes")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4))).sortBy(_._1).toSeq
    val sql = dump(Multimodal.decodeMediaHeader(enc))
    // the decoded values are the fixture's ground truth, read back from
    // REAL header bytes (PNG BE u32, JPEG SOFn u16s behind the segment
    // walk, GIF LE u16s); header sizes: v0 = 12 B, v1 = 30 B, v2 = 19 B,
    // v3 = 194 B (SOI 2 + APP1 2+180 + SOF 2+8)
    assert(sql === Seq(
      (1L, "jpeg", Some(72L), Some(64L), 12L + 7L),
      (4L, "png", Some(96L), Some(64L), 33L + 8L),
      (5L, "jpeg", Some(104L), Some(64L), 30L + 9L),
      (6L, "gif", Some(112L), Some(64L), 13L + 8L),
      (7L, "unknown", None, None, 8L),
      (9L, "jpeg", Some(136L), Some(64L), 19L + 7L),
      (13L, "jpeg", Some(168L), Some(64L), 194L + 9L)), s"got $sql")
    // the typed per-partition form (the real-codec seam) is
    // byte-for-byte identical to the declarative form
    assert(dump(Multimodal.decodeMediaBatch(spark, enc)) === sql)
    // edge payloads: magic-only truncations decode to format + NULL
    // dims on BOTH forms; empty is unknown; the walk-specific edges —
    // a post-SOS FFC0 is entropy-coded noise (walk dies at SOS, NULL
    // dims, where the old scan would have "decoded" it), a standalone
    // TEM marker is hopped without a length field, and a decoy-only
    // APP0 with NO real SOF yields NULL dims, not the decoy's bytes
    import org.apache.spark.sql.functions.{col, expr}
    val edges = Seq(
      (1L, "89504E470D0A1A0A"),            // png sig only
      (2L, "FFD8"),                        // jpeg SOI only
      (3L, "474946383961F0"),              // gif magic + 1 byte
      (4L, ""),
      (5L, "FFD8FFDA0002FFC000110800400040"), // SOS then FFC0: dead walk
      (6L, "FFD8FF01FFC0001108004000C0"),     // TEM hop then real SOF0
      (7L, "FFD8FFE000104A464946000101FFC000AA000000")) // decoy, no SOF
      .toDF("doc_id", "hx")
      .select(col("doc_id"), expr("unhex(hx)").as("payload"))
    val se = dump(Multimodal.decodeMediaHeader(edges))
    assert(se.map(x => (x._1, x._2, x._3, x._4)) === Seq(
      (1L, "png", None, None), (2L, "jpeg", None, None),
      (3L, "gif", None, None), (4L, "unknown", None, None),
      (5L, "jpeg", None, None),
      (6L, "jpeg", Some(192L), Some(64L)),
      (7L, "jpeg", None, None)), s"got $se")
    assert(dump(Multimodal.decodeMediaBatch(spark, edges)) === se)
  }

  test("edit dedup: empty documents never pair (0/0 rel_edit stays out on both engines)") {
    // two empty docs band-match trivially (identical empty-shingle sets)
    // but max length 0 makes rel_edit 0/0 — the oracle's `rel_edit <= t`
    // drops NULL, so Spark must drop the pair too; a real near-dup in the
    // same corpus still surfaces
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = docs(3L -> "", 9L -> "", 0L -> text, 7L -> text)
    val out = LlmOps.dedupEdit(LlmOps.nearDupCorpus(d)).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((3L, 9L)), "empty-doc pair must be filtered, not NULL-kept")
    assert(pairs.contains((0L, 7L)), "real near-dups still pair")
    assert(out.forall(r => !r.isNullAt(3)), "no NULL rel_edit may survive")
  }

  test("indexed incremental minhash dedup ≡ the in-query gate, off a stored index") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val base = docs(70L -> mk("alpha"), 13L -> mk("beta"), 3L -> mk("gamma"))
    val batch = LlmOps.incrementalNearBatch(base)
    val dir = java.nio.file.Files.createTempDirectory("graft-mhix-spec").toString
    LlmOps.buildMinHashIndex(base, dir)
    // the index persists across "runs": a fresh read probes parquet only
    val indexed = LlmOps.incrementalDedupMinHashIndexed(batch, dir)
      .collect().map(_.getLong(0)).toSet
    val inQuery = LlmOps.incrementalDedupMinHash(base, batch)
      .collect().map(_.getLong(0)).toSet
    assert(indexed === inQuery, "stored-index probe must be output-identical")
    assert(indexed === Set(60000013L))
    // the stored artifacts are the two documented tables, each carrying
    // its directory-partition bucket column for probe-side pruning
    val sig = spark.read.parquet(s"$dir/signatures")
    val bands = spark.read.parquet(s"$dir/bands")
    assert(sig.columns.toSeq === Seq("doc_id", "gs", "sig_bucket"))
    assert(bands.columns.toSeq ===
      Seq("doc_id", "band_key", "band_idx", "bk_bucket"))
    assert(bands.count() === sig.count() * LlmOps.Bands)
    // partition directories exist on disk (the probe's pruning surface)
    val bandDirs = new java.io.File(s"$dir/bands").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(bandDirs.nonEmpty && bandDirs.forall(_.startsWith("band_idx=")))
  }

  test("over the broadcast bound the gates drop their hints and stay output-identical") {
    // The stored-probe gates force-broadcast the batch side only while it
    // is small (GateBroadcastMaxRows/MaxVecRows) — a corpus-sized "batch"
    // (delta curation first run, backfill) must degrade to whatever AQE
    // picks instead of dying on the 8 GB broadcast cap. Every gate that
    // takes a footprint row is handed one whose count is one past the
    // bound: the plan must carry no batch-side hint, and the rows must
    // equal the hinted run's.
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val base = docs(70L -> mk("alpha"), 13L -> mk("beta"), 3L -> mk("gamma"))
    val batch = LlmOps.incrementalNearBatch(base)
    val dir = java.nio.file.Files.createTempDirectory("graft-mhix-nohint").toString
    LlmOps.buildMinHashIndex(base, dir)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bSig = LlmOps.signaturesOf(batch).persist(lvl)
    val bBands = LlmOps.bandsOf(bSig).persist(lvl)
    val lmDocs = docs(1L -> "a b a b", 3L -> "a c", 5L -> "x b a", 7L -> "")
    val lmDir = java.nio.file.Files.createTempDirectory("graft-lm-nohint").toString
    LlmOps.buildFluencyModel(lmDocs, lmDir)
    val lmLangDir = java.nio.file.Files.createTempDirectory("graft-lmlang-nohint").toString
    LlmOps.buildFluencyModelByLang(lmDocs, lmLangDir)
    val bgLang = LlmOps.docBigramsLang(lmDocs, "doc_id", "text", "lang").persist(lvl)
    val qDir = java.nio.file.Files.createTempDirectory("graft-qclf-nohint").toString
    val qCorpus = LlmOps.qclfCorpus(
      docs((0L until 20L).map(i => i -> s"alpha bravo charlie delta tok$i"): _*))
    LlmOps.buildQualityClassifier(qCorpus, qDir)
    val qSlice = qCorpus.filter(col("doc_id") % 4 === 0)
    // (gate, probe given an optional footprint row, its footprint row,
    // the row's size-gate count field)
    val gates: Seq[(String, Option[org.apache.spark.sql.Row] => org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.Row, String)] = Seq(
      ("incrementalDedupMinHashIndexedFrom",
        fp => LlmOps.incrementalDedupMinHashIndexedFrom(bSig, bBands, dir, fpRow = fp),
        LlmOps.mhFpAgg(bBands).collect()(0), "mh_n"),
      ("fluencyStored", fp => LlmOps.fluencyStored(lmDocs, lmDir, fpRow = fp),
        LlmOps.lmFpAgg(lmDocs).collect()(0), "toks"),
      ("fluencyStoredByLangFrom",
        fp => LlmOps.fluencyStoredByLangFrom(lmDocs, bgLang, lmLangDir, fpRow = fp),
        LlmOps.lmLangFpAgg(bgLang).collect()(0), "lm_lt"),
      ("qualityScoreStored", fp => LlmOps.qualityScoreStored(qSlice, qDir, fpRow = fp),
        LlmOps.qclfFpAgg(qSlice).collect()(0), "qc_toks"))
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    gates.foreach { case (name, probe, fp, field) =>
      val hinted = probe(None)
      val unhinted = probe(Some(overBound(fp, field)))
      // the negative check must read the ANALYZED plan: the optimizer's
      // EliminateResolvedHint strips hint nodes from optimizedPlan even
      // when present, which would make this assertion vacuous there
      assert(!unhinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
        s"$name: over the bound, no broadcast hint may survive in the plan")
      assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
        s"$name: under the bound, the batch-side hint must be present")
      val hintedRows = sortedRows(hinted)
      assert(hintedRows.nonEmpty, s"$name: the fixture must produce rows")
      assert(sortedRows(unhinted) === hintedRows,
        s"$name: hinted and unhinted probes must agree")
    }
    bSig.unpersist(); bBands.unpersist(); bgLang.unpersist()

    // the cosine gate takes no footprint row: a batch one row past
    // GateBroadcastMaxVecRows takes the unhinted path itself
    val emb = Seq((1L, Seq(1.0, 0.0), 7), (2L, Seq(0.0, 1.0), 7))
      .toDF("vec_id", "e", "label")
    val adir = java.nio.file.Files.createTempDirectory("graft-annix-nohint").toString
    LlmOps.buildAnnIndex(emb, adir, vecCol = "e")
    val nrm = expr("sqrt(aggregate(zip_with(e, e, (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x))")
    val vb = Seq((10L, Seq(1.0, 0.001), 7), (11L, Seq(0.5, 0.5), 7))
      .toDF("vec_id", "e", "label").withColumn("nrm", nrm).persist(lvl)
    val vHint = LlmOps.incrementalDedupCosineIndexedFrom(vb, adir)
    assert(vHint.queryExecution.analyzed.toString.contains("ResolvedHint"))
    val vHintIds = vHint.collect().map(_.getLong(0)).toSet
    assert(vHintIds === Set(11L), s"near-copy of a stored vector drops, got $vHintIds")
    // filler vectors sit at cosine ≈0.707 to both stored ones: all survive
    val fillerN = LlmOps.GateBroadcastMaxVecRows + 1 - 2
    val vbBig = spark.range(100L, 100L + fillerN)
      .select(col("id").as("vec_id"), array(lit(0.5), lit(0.5)).as("e"), lit(7).as("label"))
      .withColumn("nrm", nrm).unionByName(vb).persist(lvl)
    val vPlain = LlmOps.incrementalDedupCosineIndexedFrom(vbBig, adir)
    assert(!vPlain.queryExecution.analyzed.toString.contains("ResolvedHint"))
    val vPlainIds = vPlain.collect().map(_.getLong(0)).toSet
    assert(vPlainIds.size === fillerN + 1 && vPlainIds.contains(11L) && !vPlainIds.contains(10L),
      "over the bound the cosine gate must drop exactly the near-copy")
    vb.unpersist(); vbBig.unpersist()
  }

  test("index append closes the loop: a later batch's near-copy of an admitted doc is caught") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val base = docs(1L -> mk("alpha"))
    val dir = java.nio.file.Files.createTempDirectory("graft-mhix-app").toString
    LlmOps.buildMinHashIndex(base, dir)
    // batch 1: a novel doc — survives the gate, appended to the index
    val b1 = docs(100L -> mk("delta"))
    val s1 = LlmOps.incrementalDedupMinHashIndexed(b1, dir)
      .collect().map(_.getLong(0)).toSet
    assert(s1 === Set(100L))
    LlmOps.appendMinHashIndex(b1, dir)
    // batch 2: a tailed near-copy of batch-1's survivor + a novel doc —
    // the copy is dropped purely off the APPENDED index rows
    val b2 = docs(200L -> (mk("delta") + " tail27"), 300L -> mk("omega"))
    val s2 = LlmOps.incrementalDedupMinHashIndexed(b2, dir)
      .collect().map(_.getLong(0)).toSet
    assert(s2 === Set(300L), s"near-copy of an appended survivor must drop, got $s2")
    // append is additive: base + batch-1 rows present, band multiple holds
    val sig = spark.read.parquet(s"$dir/signatures")
    assert(sig.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 100L))
    assert(spark.read.parquet(s"$dir/bands").count() === sig.count() * LlmOps.Bands)
  }

  test("degenerate inputs: null text never kills a job, bad knobs fail loudly") {
    // the library contract the SQL operators already honor — a null-text
    // doc contributes no row — extended to the typed/UDF paths that used
    // to NPE in-task, and explicit requires where a silent wrong answer
    // was possible
    val withNull = Seq((1L, "alpha beta gamma"), (2L, null))
      .toDF("doc_id", "text")
    // bpeApply: typed decode path must skip the null row, not throw
    val enc = LlmOps.bpeApply(withNull, Seq(("a", "l"))).collect()
    assert(enc.map(_.getLong(0)).toSet === Set(1L))
    // bloom incremental: null hash = definitely new, matching the exact
    // variant bit-for-bit (a null anti-join key never matches)
    val base = Seq((10L, "base doc text")).toDF("doc_id", "text")
    val bloomKept = LlmOps.incrementalDedupBloom(base, withNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exactKept = LlmOps.incrementalDedup(base, withNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloomKept === exactKept,
      s"bloom and exact gates must agree on null-text rows: $bloomKept vs $exactKept")
    assert(bloomKept.contains(2L))
    // corpusDiff: PRESENCE, not hash-nullness, decides the status — a doc
    // whose text goes null is changed, not 'added'; null-vs-null is
    // unchanged, not 'added'
    val oldSnap = Seq((1L, "x"), (2L, null), (3L, null)).toDF("doc_id", "text")
    val newSnap = Seq((1L, null), (2L, null), (3L, "y")).toDF("doc_id", "text")
    val st = LlmOps.corpusDiff(oldSnap, newSnap, keepUnchanged = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st === Map(1L -> "changed", 2L -> "unchanged", 3L -> "changed"),
      s"null-text presence must classify correctly, got $st")
    // knob guards: both sampler paths and the chunker reject the
    // degenerate values that used to split behavior or silently drop data
    intercept[IllegalArgumentException] {
      LlmOps.sampleStratified(withNull, perStratum = 0)
    }
    intercept[IllegalArgumentException] {
      LlmOps.chunkDocs(withNull, window = 64, overlap = -1)
    }
  }

  test("chunking: stride windows overlap by exactly `overlap` tokens, short docs emit one chunk") {
    // 100 tokens, window 64, stride 48 → chunks at 0 and 48 (2 chunks)
    val toks = (1 to 100).map(i => s"t$i")
    val d = docs(5L -> toks.mkString(" "), 9L -> "tiny doc", 3L -> "")
    val out = LlmOps.chunkDocs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(out.keySet === Set((5L, 0L), (5L, 1L), (9L, 0L), (3L, 0L)))
    assert(out((5L, 0L)) === ((toks.take(64).mkString(" "), 64L)))
    // second chunk starts at token 49 (1-based): last 16 of chunk 0 repeat
    assert(out((5L, 1L)) === ((toks.slice(48, 100).mkString(" "), 52L)))
    assert(out((9L, 0L)) === (("tiny doc", 2L)))
    // empty text splits to one empty token — one chunk, like the oracle
    assert(out((3L, 0L)) === (("", 1L)))
  }

  test("index compaction folds appended files, probes and stats unchanged") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-mhix-compact").toString
    LlmOps.buildMinHashIndex(docs(1L -> mk("alpha")), dir)
    LlmOps.appendMinHashIndex(docs(100L -> mk("delta")), dir)
    LlmOps.appendMinHashIndex(docs(200L -> mk("omega")), dir)
    val probe = docs(300L -> (mk("delta") + " tail27"), 400L -> mk("zeta"))
    val beforeGate = LlmOps.incrementalDedupMinHashIndexed(probe, dir)
      .collect().map(_.getLong(0)).toSet
    val beforeStats = LlmOps.minHashIndexStats(spark, dir)
      .collect().map(_.toSeq).toSet
    val ((sigB, sigA), (bandB, bandA)) = LlmOps.compactMinHashIndex(spark, dir)
    assert(sigA <= sigB && bandA <= bandB, "compaction must not grow file counts")
    assert(bandB >= 3L, "three writes accumulated band files")
    assert(LlmOps.incrementalDedupMinHashIndexed(probe, dir)
      .collect().map(_.getLong(0)).toSet === beforeGate,
      "the gate must see identical content after the swap")
    assert(LlmOps.minHashIndexStats(spark, dir)
      .collect().map(_.toSeq).toSet === beforeStats,
      "stats must be row-identical after compaction")
  }

  test("indexed IVF probe ≡ annIvf, off the stored partitioned cell table") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-idx").toString
    LlmOps.buildAnnIndex(emb, dir)
    val indexed = LlmOps.annIvfIndexed(emb.filter(col("vec_id") < 8), dir)
    val direct = LlmOps.annIvf(emb)
    assert(indexed.columns.toSeq === direct.columns.toSeq)
    assert(indexed.schema.map(f => (f.name, f.dataType)) ===
        direct.schema.map(f => (f.name, f.dataType)),
      "partition-column round-trip must preserve the label type")
    val ix = indexed.collect().map(_.toSeq).toSet
    val dx = direct.collect().map(_.toSeq).toSet
    assert(ix === dx, "stored-cell probe must be output-identical")
    // the layout IS the index: one directory per cell value
    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("label=")).map(_.getName).toSet
    assert(cellDirs.nonEmpty)
  }

  test("ANN index append + compaction: probe ≡ rebuild, stats track appended cells") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    val q = emb.filter(col("vec_id") < 8)
    // build from half the corpus, append the other half...
    val grown = java.nio.file.Files.createTempDirectory("graft-ann-app").toString
    LlmOps.buildAnnIndex(half1, grown)
    LlmOps.appendAnnIndex(half2, grown)
    // ...vs one build over everything: probes must be output-identical
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-ann-reb").toString
    LlmOps.buildAnnIndex(emb, rebuilt)
    val viaAppend = LlmOps.annIvfIndexed(q, grown).collect().map(_.toSeq).toSet
    val viaRebuild = LlmOps.annIvfIndexed(q, rebuilt).collect().map(_.toSeq).toSet
    assert(viaAppend === viaRebuild, "append+probe must equal rebuild+probe")
    // stats gauge: per-cell rows equal the embedding corpus grouped by label
    val stats = LlmOps.annIndexStats(spark, grown).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = emb.groupBy(col("label").cast("bigint")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats === truth)
    // a replayed append is healed by compaction (dedupRows) and the probe
    // still sees identical content through the swap
    LlmOps.appendAnnIndex(half2, grown)
    val (filesB, filesA) = LlmOps.compactAnnIndex(spark, grown)
    assert(filesA <= filesB, "compaction must not grow file counts")
    assert(LlmOps.annIvfIndexed(q, grown).collect().map(_.toSeq).toSet ===
      viaRebuild, "replay + compaction must leave the probe unchanged")
    assert(LlmOps.annIndexStats(spark, grown).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === truth,
      "compaction must erase the replayed rows from the stats")
  }

  test("fluency: corpus-bigram transition means, short docs absent, seen transitions outscore rare ones") {
    val d = docs(1L -> "a b a b", 3L -> "a c", 5L -> "x", 7L -> "")
    val out = LlmOps.fluencyScore(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // docs 5 and 7 have < 2 tokens — no bigrams, absent by construction
    assert(out.keySet === Set(1L, 3L))
    // corpus counts: c(a,b)=2, c(b,a)=1, c(a,c)=1 ⇒ c(a·)=3, c(b·)=1.
    // doc 1: fold_sorted{2·(2/3), 1·(1/1)} / 3 ; doc 3: (1/3) / 1
    val d1 = (0.0 + 1.0 + 2.0 * (2.0 / 3.0)) / 3.0
    val d3 = (0.0 + 1.0 / 3.0) / 1.0
    assert(out(1L) === ((3L, d1)))
    assert(out(3L) === ((1L, d3)))
    assert(out(1L)._2 > out(3L)._2,
      "the doc whose transitions the corpus has seen twice must outscore the rare one")
  }

  test("stored fluency model: probe ≡ in-query on the model corpus; unseen transitions score zero on new text") {
    val d = docs(1L -> "a b a b", 3L -> "a c", 5L -> "x", 7L -> "")
    val dir = java.nio.file.Files.createTempDirectory("graft-lm-spec").toString
    LlmOps.buildFluencyModel(d, dir)
    // full coverage ⇒ same integers, same value-sorted fold, bit-identical
    val inline = LlmOps.fluencyScore(d).collect().map(_.toSeq).toSet
    val stored = LlmOps.fluencyStored(d, dir).collect().map(_.toSeq).toSet
    assert(stored === inline,
      "stored probe of the model corpus must be bit-identical to the in-query form")
    // cross-corpus scoring against the FROZEN model: c(a,b)=2, c(a·)=3
    val out = LlmOps.fluencyStored(
      docs(11L -> "a b c", 13L -> "z z z", 15L -> "q"), dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // doc 15 is short (no bigrams) — absent, like the in-query form
    assert(out.keySet === Set(11L, 13L))
    // doc 11: (a,b) seen with p=2/3, (b,c) unseen → 0; mean over BOTH
    assert(out(11L) === ((2L, (0.0 + 2.0 / 3.0) / 2.0)))
    // doc 13: every transition unseen → present with fluency exactly 0
    assert(out(13L) === ((2L, 0.0)))
  }

  test("fluency model minCount pruning drops rare bigrams but keeps full prefix mass; lmStats reads the stored table") {
    // bigrams: (a,b)×2, (b,a)×2, (a,c)×1 ⇒ c(a·)=3, c(b·)=2
    val d = docs(1L -> "a b a b a c")
    val dir = java.nio.file.Files.createTempDirectory("graft-lm-prune").toString
    LlmOps.buildFluencyModel(d, dir, minCount = 2L)
    // the hapax (a,c) is pruned from the table...
    val stats = LlmOps.lmStats(spark, dir).collect()(0)
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
      === ((2L, 2L, 4L, 3L)),
      "stats must see 2 prefixes, 2 stored bigrams, mass 4, hottest prefix 3")
    val scored = LlmOps.fluencyStored(
      docs(21L -> "a c", 23L -> "a b"), dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // ...so it scores 0 at probe time...
    assert(scored(21L) === 0.0, "a pruned bigram must score like an unseen one")
    // ...while survivors keep the FULL denominator: p(b|a) = 2/3, not 2/2
    assert(scored(23L) === 2.0 / 3.0,
      "pruning must not inflate surviving probabilities (c1 keeps full mass)")
  }

  test("fluency model rebuild is create-or-replace through the swap: new generation serves, no stale table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lm-gen").toString
    LlmOps.buildFluencyModel(docs(1L -> "a b"), dir)
    // a RETRAIN on the next corpus generation replaces the artifact in
    // place (swapDir create-or-replace) — the probe sees only the new
    // generation's counts
    LlmOps.buildFluencyModel(docs(1L -> "c d c d"), dir)
    val out = LlmOps.fluencyStored(docs(31L -> "a b", 33L -> "c d"), dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(31L) === 0.0, "old-generation bigrams must be gone after the rebuild")
    assert(out(33L) > 0.0, "new-generation bigrams must score")
    assert(!new java.io.File(dir + ".pre-compaction").exists() &&
      !new java.io.File(dir + ".compacted").exists(),
      "the swap must leave no step-aside directories behind")
  }

  test("LM-staged funnel: each doc drops at exactly its own gate, fluent survivors clear the stored bar") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val lmDir = java.nio.file.Files.createTempDirectory("graft-funnel-lm").toString
    LlmOps.buildFluencyModel(docs(1L -> mk("alpha"), 2L -> mk("beta")), lmDir)
    // 10: fluent (a subrange of the LM corpus' transitions, every p=1)
    // 11: exact copy of 10 → drops at the exact-dedup stage
    // 12: quality-passing junk (unseen transitions) → drops ONLY at the
    //     LM bar — the stage the other four gates cannot express
    val fluent = (5 to 20).map(i => s"alpha$i").mkString(" ")
    val junk = (1 to 16).map(i => s"qqzz$i").mkString(" ")
    val out = LlmOps.curationFunnelLm(
        docs(10L -> fluent, 11L -> fluent, 12L -> junk), lmDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("0_raw" -> 3L, "1_quality" -> 3L,
      "2_exact_dedup" -> 2L, "3_near_dedup" -> 2L, "4_fluent" -> 1L),
      s"got $out")
  }

  test("full funnel: each doc drops at exactly its own gate, incl. the benchmark leak at decontam") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val lmDir = java.nio.file.Files.createTempDirectory("graft-full-lm").toString
    LlmOps.buildFluencyModel(docs(1L -> mk("alpha"), 2L -> mk("beta")), lmDir)
    val dDir = java.nio.file.Files.createTempDirectory("graft-full-dc").toString
    LlmOps.buildDecontamIndex(docs(900L -> mk("bench")), dDir)
    // 10: fluent; 11: exact copy of 10 → exact stage; 12: quality-passing
    // junk → LM bar; 13: verbatim benchmark text → decontam stage (the
    // strict 0-bar — it passes quality and would survive every dedup)
    val fluent = (5 to 20).map(i => s"alpha$i").mkString(" ")
    val junk = (1 to 16).map(i => s"qqzz$i").mkString(" ")
    val out = LlmOps.curationFunnelFull(
        docs(10L -> fluent, 11L -> fluent, 12L -> junk, 13L -> mk("bench")),
        lmDir, dDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("0_raw" -> 4L, "1_quality" -> 4L, "2_decontam" -> 3L,
      "3_exact_dedup" -> 2L, "4_near_dedup" -> 2L, "5_fluent" -> 1L),
      s"got $out")
    // the terminal apply over the SAME chain: exactly the one doc that
    // cleared every gate, with its content witness
    val applied = LlmOps.curationApplyFull(
        docs(10L -> fluent, 11L -> fluent, 12L -> junk, 13L -> mk("bench")),
        lmDir, dDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(applied === Seq((10L, fluent.length.toLong)), s"got $applied")
  }

  test("trained-classifier gate on the batch funnel and the nightly delta: drops a heuristic-passing doc the model rejects") {
    // the gate's value-add is exactly the heuristic/learned DISAGREEMENT:
    // a doc that clears every heuristic bar but whose tokens the trained
    // model associates with the junk class. Training corpus: two clean
    // docs (cln* tokens → c_pos) and two junk docs whose jun* tokens ride
    // with a 40-char punct token (punct_ratio 0.39 fails the heuristic →
    // c_neg). The TRAP doc reuses the junk docs' jun* tokens WITHOUT the
    // punct — it passes the heuristic (12 tokens, avg len 4.25, no
    // repetition, no punct) but scores r = 55/183 ≈ 0.30 < τ=1 per token.
    val cln = (1 to 16).map(i => s"cln$i").mkString(" ")
    val junToks = (1 to 12).map(i => s"jun$i").mkString(" ")
    val junk = junToks + " " + "!" * 40
    val train = docs(1L -> cln, 2L -> cln, 3L -> junk, 4L -> junk)
    val qd = java.nio.file.Files.createTempDirectory("graft-clfgate-q").toString
    LlmOps.buildQualityClassifier(train, qd)
    val lmDir = java.nio.file.Files.createTempDirectory("graft-clfgate-lm").toString
    LlmOps.buildFluencyModel(docs(1L -> cln), lmDir)
    val dDir = java.nio.file.Files.createTempDirectory("graft-clfgate-dc").toString
    LlmOps.buildDecontamIndex(docs(900L ->
      (1 to 30).map(i => s"bench$i").mkString(" ")), dDir)
    val corpus = docs(10L -> cln, 12L -> junToks)
    // batch funnel: without the gate the trap doc flows through to the
    // LM bar; with it, stage 1b drops it and every later stage shrinks
    val without = LlmOps.curationFunnelFull(corpus, lmDir, dDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(without === Map("0_raw" -> 2L, "1_quality" -> 2L,
      "2_decontam" -> 2L, "3_exact_dedup" -> 2L, "4_near_dedup" -> 2L,
      "5_fluent" -> 1L), s"got $without")
    val withClf = LlmOps.curationFunnelFull(corpus, lmDir, dDir,
        qualityModelDir = Some(qd))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(withClf === Map("0_raw" -> 2L, "1_quality" -> 2L,
      "1b_clf" -> 1L, "2_decontam" -> 1L, "3_exact_dedup" -> 1L,
      "4_near_dedup" -> 1L, "5_fluent" -> 1L), s"got $withClf")
    // terminal apply under the gate: exactly the clean doc
    val applied = LlmOps.curationApplyFull(corpus, lmDir, dDir,
        qualityModelDir = Some(qd))
      .collect().map(_.getLong(0)).toSeq
    assert(applied === Seq(10L), s"got $applied")
    // nightly delta: churn = the trap + a reordered clean-vocabulary doc
    // (different text → exact gate pass; different trigrams → near gate
    // pass; clean-class tokens → clf pass). 1b drops exactly the trap.
    val base = docs(1L -> cln)
    val ix = java.nio.file.Files.createTempDirectory("graft-clfgate-ix").toString
    LlmOps.buildMinHashIndex(base, ix)
    val reord = (1 to 16).reverse.map(i => s"cln$i").mkString(" ")
    val next = docs(1L -> cln, 20L -> junToks, 21L -> reord)
    val delta = LlmOps.curateDelta(base, next, ix,
        qualityModelDir = Some(qd)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(delta === Map("0_delta" -> 2L, "1_quality" -> 2L,
      "1b_clf" -> 1L, "2_exact" -> 1L, "3_near" -> 1L), s"got $delta")
    // and a tau ABOVE the clean ratio (165/61 ≈ 2.7) closes the gate on
    // everything — the knob is live on the composed surface
    val strict = LlmOps.curateDelta(base, next, ix,
        qualityModelDir = Some(qd), qualityTau = 3.0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(strict("1b_clf") === 0L && strict("3_near") === 0L, s"got $strict")
  }

  test("full funnel at an infinite gram bar ≡ the LM funnel: the decontam stage is the only delta") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val lmDir = java.nio.file.Files.createTempDirectory("graft-fullinf-lm").toString
    LlmOps.buildFluencyModel(docs(1L -> mk("alpha"), 2L -> mk("beta")), lmDir)
    val dDir = java.nio.file.Files.createTempDirectory("graft-fullinf-dc").toString
    LlmOps.buildDecontamIndex(docs(900L -> mk("bench")), dDir)
    val corpus = docs(10L -> (5 to 20).map(i => s"alpha$i").mkString(" "),
      11L -> (5 to 20).map(i => s"alpha$i").mkString(" "),
      12L -> (1 to 16).map(i => s"qqzz$i").mkString(" "),
      13L -> mk("bench"))
    val full = LlmOps.curationFunnelFull(corpus, lmDir, dDir,
        maxSharedGrams = Long.MaxValue)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lm = LlmOps.curationFunnelLm(corpus, lmDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every shared stage agrees count-for-count; the neutralized decontam
    // stage passes the whole quality set through
    assert(full("2_decontam") === full("1_quality"))
    assert(full("0_raw") === lm("0_raw") && full("1_quality") === lm("1_quality") &&
      full("3_exact_dedup") === lm("2_exact_dedup") &&
      full("4_near_dedup") === lm("3_near_dedup") &&
      full("5_fluent") === lm("4_fluent"), s"full=$full lm=$lm")
  }

  test("LM partition: exact terciles on the calibration slice, thresholds order the whole corpus, short docs absent") {
    val lmDir = java.nio.file.Files.createTempDirectory("graft-lm-part").toString
    // graded fluency over a SHARED vocabulary (unique junk won't grade:
    // a hapax bigram's prefix is hapax too, so it scores p = 1): doc j
    // mixes j copies of the dominant transition "a b" with two of the
    // rare "a c" — fluency (12j/7 + 11/7)/(2j + 3) rises strictly in j.
    // Calibration slice = ids % 10 == 0 (9 docs, j = 1..9); ids 1/3/5
    // are off-slice probes at j = 1/5/9; 7 is a 1-token doc.
    def graded(id: Long, j: Int) =
      id -> (Seq.fill(j)("a b") ++ Seq("a c", "a c")).mkString(" ")
    val d = docs(((1 to 9).map(j => graded(10L * j, j)) ++
      Seq(graded(1L, 1), graded(3L, 5), graded(5L, 9), 7L -> "solo")): _*)
    LlmOps.buildFluencyModel(d, lmDir)
    val cutsDir = java.nio.file.Files.createTempDirectory("graft-lm-cuts").toString
    LlmOps.buildLmPartitioner(d, lmDir, cutsDir)
    val out = LlmOps.lmPartition(d, lmDir, cutsDir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    // the 1-token doc has no transition evidence — absent, not bucketed
    assert(!out.contains(7L))
    // calibration slice splits EXACTLY ceil(9/3)=3 / 3 / 3
    val refBuckets = (10L to 90L by 10L).map(out(_)._2)
    assert(refBuckets.count(_ == "tail") === 3 &&
      refBuckets.count(_ == "middle") === 3 &&
      refBuckets.count(_ == "head") === 3, s"ref split: $refBuckets")
    // thresholds are global: every tail (fluency, id) tuple precedes
    // every middle tuple, which precedes every head tuple — slice
    // membership plays no role in ASSIGNMENT, only in the cut points
    val ord: Ordering[(Double, Long)] = Ordering.Tuple2[Double, Long]
    def tuples(b: String) = out.collect {
      case (id, (f, `b`)) => (f, id) }.toSeq.sorted(ord)
    val (tl, md, hd) = (tuples("tail"), tuples("middle"), tuples("head"))
    assert(tl.nonEmpty && md.nonEmpty && hd.nonEmpty)
    assert(ord.lt(tl.last, md.head), s"${tl.last} !< ${md.head}")
    assert(ord.lt(md.last, hd.head), s"${md.last} !< ${hd.head}")
    // off-slice probes bucket purely by threshold comparison: id 1 ties
    // doc 10's score (id breaks the tie below the cut), 3 and 5 land
    // mid- and top-range — slice membership plays no role in assignment
    assert(out(1L)._2 === "tail" && out(3L)._2 === "middle" &&
      out(5L)._2 === "head", s"${out(1L)} ${out(3L)} ${out(5L)}")
  }

  test("LM partition apply: head kept whole, middle sampled by salted hash, tail dropped") {
    val lmDir = java.nio.file.Files.createTempDirectory("graft-lmpa").toString
    val cutsDir = java.nio.file.Files.createTempDirectory("graft-lmpa-cuts").toString
    def graded(id: Long, j: Int) =
      id -> (Seq.fill(j)("a b") ++ Seq("a c", "a c")).mkString(" ")
    val d = docs(((1 to 9).map(j => graded(10L * j, j)) ++
      Seq(graded(1L, 1), graded(3L, 5), graded(5L, 9))): _*)
    LlmOps.buildFluencyModel(d, lmDir)
    LlmOps.buildLmPartitioner(d, lmDir, cutsDir)
    val parts = LlmOps.lmPartition(d, lmDir, cutsDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val heads = parts.collect { case (id, "head") => id }.toSet
    val mids = parts.collect { case (id, "middle") => id }.toSet
    assert(heads.nonEmpty && mids.nonEmpty)
    def kept(pm: Int) = LlmOps.lmPartitionApply(d, lmDir, cutsDir, pm)
      .collect().map(_.getLong(0)).toSet
    // the rate's endpoints are exact set equalities, not distributions:
    // 0‰ keeps the head alone, 1000‰ keeps head ∪ middle whole — and the
    // tail never survives any rate
    assert(kept(0) === heads)
    assert(kept(1000) === heads ++ mids)
    val kd = kept(500)
    assert(heads.subsetOf(kd) && kd.subsetOf(heads ++ mids))
    intercept[IllegalArgumentException] {
      LlmOps.lmPartitionApply(d, lmDir, cutsDir, 1001)
    }
  }

  test("sem recall gauge: counts exact-cosine truth pairs, hits bounded, injected copies in truth") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = LlmOps.cosineCorpus(LlmOps.embBase(emb))
    val row = LlmOps.semRecall(corpus).collect()(0)
    val (nTrue, nHit, recall) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    // every %20 base doc's perturbed copy (cosine ≈ 0.99995) is a truth pair
    val injected = emb.filter(col("vec_id") % 20 === 0).count()
    assert(nTrue >= injected, s"at least the $injected injected pairs, got $nTrue")
    assert(nHit >= 0L && nHit <= nTrue)
    assert(recall >= 0.0 && recall <= 1.0)
    assert(recall === nHit.toDouble / nTrue)
    // a dead hit-detection path (bucket equality broken) reports 0 and
    // would pass every bound above; the injected copies are tiny
    // perturbations whose sign projections overwhelmingly match, so a
    // working blocker must land hits
    assert(nHit > 0L, "injected near-copies must produce nonzero blocking hits")
  }

  test("stored IVF-PQ index: probe ≡ in-query, append encodes with the frozen codebook, compaction heals") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-idx").toString
    LlmOps.buildPqIndex(emb, dir)
    val indexed = LlmOps.annIvfPqIndexed(q, dir)
    val direct = LlmOps.annIvfPq(emb)
    assert(indexed.columns.toSeq === direct.columns.toSeq)
    assert(indexed.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet,
      "stored-codes probe must be output-identical to the in-query ranking")
    // the stored artifacts: a K-row codebook and label-partitioned codes
    assert(spark.read.parquet(s"$dir/codebooks").count() === LlmOps.PqCentroids)
    val codeDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("label=")).map(_.getName)
    assert(codeDirs.nonEmpty, "codes must be cell-partitioned on disk")

    // append lifecycle: build over the training slice only (so the
    // frozen codebook equals a full build's), append the rest encoded
    // against the STORED codebook — probes must equal one full build
    val slice = emb.filter(col("vec_id") % LlmOps.PqTrainSliceMod === 0)
    val rest = emb.filter(col("vec_id") % LlmOps.PqTrainSliceMod =!= 0)
    val grown = java.nio.file.Files.createTempDirectory("graft-pq-app").toString
    LlmOps.buildPqIndex(slice, grown)
    LlmOps.appendPqIndex(rest, grown)
    assert(LlmOps.annIvfPqIndexed(q, grown).collect().map(_.toSeq).toSet ===
      indexed.collect().map(_.toSeq).toSet,
      "append+probe must equal full-build+probe when the codebook is shared")
    // a replayed append duplicates codes rows; compaction heals them
    // (dedupRows — codes are a deterministic function of the vector and
    // the stored codebook) and the healed probe is identical
    val before = spark.read.parquet(s"$grown/codes").count()
    LlmOps.appendPqIndex(rest, grown)
    assert(spark.read.parquet(s"$grown/codes").count() ===
      before + rest.count())
    LlmOps.compactPqIndex(spark, grown)
    assert(spark.read.parquet(s"$grown/codes").count() === before,
      "compaction must collapse the replayed codes")
    assert(LlmOps.annIvfPqIndexed(q, grown).collect().map(_.toSeq).toSet ===
      indexed.collect().map(_.toSeq).toSet,
      "the healed index must probe identically")
  }

  test("PQ rebuild: full retrain swaps in as one generation; every crash window leaves a servable index") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 8)
    // the drifted steady state the rebuild repays: codebook frozen on an
    // early slice, the rest of the corpus appended against it
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-reb").toString
    val slice = emb.filter(col("vec_id") % LlmOps.PqTrainSliceMod === 0)
    LlmOps.buildPqIndex(slice, dir)
    LlmOps.appendPqIndex(
      emb.filter(col("vec_id") % LlmOps.PqTrainSliceMod =!= 0), dir)
    val probeBefore = LlmOps.annIvfPqIndexed(q, dir).collect().map(_.toSeq).toSet

    // rebuild = a fresh full build, atomically: codebooks and codes must
    // both be the new generation (a subdir-by-subdir swap could leave
    // codes decoding against the WRONG codebook)
    LlmOps.rebuildPqIndex(emb, dir)
    val fresh = java.nio.file.Files.createTempDirectory("graft-pq-fresh").toString
    LlmOps.buildPqIndex(emb, fresh)
    assert(spark.read.parquet(s"$dir/codebooks").collect().map(_.toSeq).toSet ===
      spark.read.parquet(s"$fresh/codebooks").collect().map(_.toSeq).toSet,
      "rebuilt codebook must equal a fresh full-corpus training")
    assert(spark.read.parquet(s"$dir/codes").collect().map(_.toSeq).toSet ===
      spark.read.parquet(s"$fresh/codes").collect().map(_.toSeq).toSet,
      "rebuilt codes must equal a fresh full-corpus encode")
    assert(LlmOps.annIvfPqIndexed(q, dir).collect().map(_.toSeq).toSet ===
      LlmOps.annIvfPqIndexed(q, fresh).collect().map(_.toSeq).toSet)

    // bootstrap: rebuild into a path with no old generation is simply a
    // build (create-or-replace — no rename of a missing directory)
    val boot = java.nio.file.Files.createTempDirectory("graft-pq-boot").toString
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(boot))
    LlmOps.rebuildPqIndex(emb, boot)
    assert(LlmOps.annIvfPqIndexed(q, boot).collect().map(_.toSeq).toSet ===
      LlmOps.annIvfPqIndexed(q, fresh).collect().map(_.toSeq).toSet)

    // crash between the parent renames: the artifact root is ABSENT and
    // .pre-compaction holds the old generation — recovery (what
    // StreamingIngest.start runs on the parent dirs) rolls back to a
    // fully servable old index, drift repair merely postponed
    val crashed = java.nio.file.Files.createTempDirectory("graft-pq-crash").toString
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(crashed))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(fresh), new java.io.File(crashed))
    java.nio.file.Files.move(java.nio.file.Paths.get(crashed),
      java.nio.file.Paths.get(crashed + ".pre-compaction"))
    graft.cdc.Compaction.recoverDir(crashed)
    assert(LlmOps.annIvfPqIndexed(q, crashed).collect().map(_.toSeq).toSet ===
      LlmOps.annIvfPqIndexed(q, fresh).collect().map(_.toSeq).toSet,
      "rolled-back index must serve the old generation whole")
    assert(!new java.io.File(crashed + ".pre-compaction").exists())

    // crash DURING the tmp build: dir intact, a partial .compacted left —
    // recovery deletes the debris and the old generation keeps serving
    val partial = new java.io.File(crashed + ".compacted")
    partial.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(partial, "junk").toPath, "partial build")
    graft.cdc.Compaction.recoverDir(crashed)
    assert(!partial.exists(), "partial rebuild debris must be cleaned up")
    assert(LlmOps.annIvfPqIndexed(q, crashed).collect().map(_.toSeq).toSet ===
      LlmOps.annIvfPqIndexed(q, fresh).collect().map(_.toSeq).toSet)
    assert(probeBefore.nonEmpty, "fixture sanity: the drifted index served probes")
  }

  test("lloyd codebook: the drift gauge clears on clustered data, recall lifts on the corpus") {
    // 4 well-separated clusters in 8-dim (spike at dim 2c + small
    // deterministic jitter, the annPq cluster fixture); kc = 4, so a
    // DATA-ADAPTIVE codebook can seat one centroid per cluster pattern
    // while the hash-rank init is 4 arbitrary corpus rows. The
    // observable is pqDrift — the gauge a deployment actually alarms
    // on: a hash-rank codebook leaves whole clusters unrepresented
    // (reconstruction error ≈ the spike magnitude, far over budget);
    // the trained one collapses every cluster onto its mean (error ≈
    // jitter, under any sane budget). Recall-vs-exact is deliberately
    // NOT asserted here: coarse quantization maps all same-cluster
    // members to one reconstruction, so within-cluster ADC order is
    // tie-noise — the gauge for ranking quality is the corpus assertion
    // below.
    val rows = (0L until 40L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(8)(j =>
        (if (j == c * 2) 10.0f else 0.0f) + ((id * 7 + j) % 5) * 0.01f)
      (id, v.toSeq, c.toLong)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    def highErr(iters: Int): (Long, Double) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-pq-drift").toString
      LlmOps.buildPqIndex(emb, dir, m = 2, kc = 4, sub = 4, trainMod = 1,
        lloydIters = iters)
      val g = LlmOps.pqDrift(emb, dir, sub = 4, errBudget = 1.0).collect()
      (g.map(_.getAs[Long]("n_high_err")).sum,
        g.map(_.getAs[Double]("max_err")).max)
    }
    val (initHigh, initMax) = highErr(0)
    val (lloydHigh, lloydMax) = highErr(LlmOps.PqLloydIters)
    assert(initHigh > 0,
      s"fixture sanity: the hash-rank codebook must blow the error budget " +
        s"on data it can't represent (max_err $initMax)")
    assert(lloydHigh === 0L,
      s"the trained codebook must clear the drift budget on clustered " +
        s"data (max_err $lloydMax vs init $initMax)")
    assert(lloydMax < initMax / 10,
      "cluster means cut reconstruction error by the spike magnitude")

    // and on the REAL (isotropic) corpus the end effect moves the right
    // way: mean ADC recall@5 over 64 queries strictly improves
    // (measured 0.0875 → 0.0969 at sf0.001; same direction at sf0.01
    // and sf0.1 — the llm_ann_recall_pq_lloyd query's values)
    val corpus = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def meanRecall(iters: Int): Double = {
      val r = LlmOps.annRecallPq(corpus, nQueries = 64,
        lloydIters = iters).collect()
      r.map(_.getAs[Double]("recall_at_k")).sum / r.length
    }
    val rInit = meanRecall(0)
    val rLloyd = meanRecall(LlmOps.PqLloydIters)
    assert(rLloyd > rInit,
      s"lloyd codebook must lift corpus ADC recall ($rLloyd vs $rInit)")
  }

  test("lloyd codebook rides the stored PQ lifecycle: build(lloydIters) probe ≡ in-query, append frozen") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-lloyd").toString
    // trainMod = 1: sf0.001's 5%-slice can't seat K centroids (the
    // documented tiny-fixture knob)
    LlmOps.buildPqIndex(emb, dir, trainMod = 1,
      lloydIters = LlmOps.PqLloydIters)
    val indexed = LlmOps.annIvfPqIndexed(q, dir)
    val direct = LlmOps.annIvfPq(emb, trainMod = 1,
      lloydIters = LlmOps.PqLloydIters)
    assert(indexed.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet,
      "stored Lloyd-codebook probe must be output-identical to in-query")
    // the trained codebook differs from the hash-rank one (the
    // refinement actually moved centroids on this corpus)
    val plain = java.nio.file.Files.createTempDirectory("graft-pq-plain").toString
    LlmOps.buildPqIndex(emb, plain, trainMod = 1)
    assert(spark.read.parquet(s"$dir/codebooks").collect().map(_.toSeq).toSet !==
      spark.read.parquet(s"$plain/codebooks").collect().map(_.toSeq).toSet,
      "two Lloyd iterations must move the codebook off the init")
    // append encodes against the STORED (trained) codebook — the frozen
    // lifecycle is codebook-agnostic
    val half = emb.filter(col("vec_id") < 25)
    val rest = emb.filter(col("vec_id") >= 25)
    val grown = java.nio.file.Files.createTempDirectory("graft-pq-lgrow").toString
    // build trains on the full corpus in both paths (trainMod = 1 over
    // emb) so the grown index's codebook equals dir's
    LlmOps.buildPqIndex(emb, grown, trainMod = 1,
      lloydIters = LlmOps.PqLloydIters)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$grown/codes"))
    LlmOps.appendPqIndex(half, grown)
    LlmOps.appendPqIndex(rest, grown)
    assert(LlmOps.annIvfPqIndexed(q, grown).collect().map(_.toSeq).toSet ===
      indexed.collect().map(_.toSeq).toSet,
      "append-encoded codes against the trained codebook must probe identically")
  }

  test("trained-cell IVF: k-means cells beat label cells at the same cell count, stored probe ≡ in-query") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // recall A/B at the same cell count (10 trained cells vs the 10
    // data labels): Voronoi boundaries put near neighbors in the same
    // cell, arbitrary labels scatter them — measured 0.36 vs 0.12 at
    // sf0.001 (same direction at sf0.01/sf0.1)
    val exact = LlmOps.annTopK(emb, 5, nQueries = 64).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    def meanRecall(approx: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = approx.groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
      exact.map { case (q, ex) =>
        ex.intersect(byQ.getOrElse(q, Set.empty)).size.toDouble / 5
      }.sum / exact.size
    }
    val kmRec = meanRecall(LlmOps.annIvfKm(emb, nQueries = 64).collect())
    val labRec = meanRecall(LlmOps.annIvf(emb, nQueries = 64).collect())
    assert(kmRec > labRec,
      s"trained cells must beat label cells at equal cell count ($kmRec vs $labRec)")
    // and the gauge query reads the same number
    val gauge = LlmOps.annRecallIvfKm(emb).collect()
    val gaugeMean = gauge.map(_.getAs[Double]("recall_at_k")).sum / gauge.length
    assert(math.abs(gaugeMean - kmRec) < 1e-12)
    // nprobe widens the scan and must buy recall: two nearest cells per
    // query strictly beat one (measured 0.36 → 0.54 at sf0.001)
    val p2 = LlmOps.annRecallIvfKm(emb, nprobe = 2).collect()
    val p2Mean = p2.map(_.getAs[Double]("recall_at_k")).sum / p2.length
    assert(p2Mean > gaugeMean,
      s"nprobe=2 must lift recall over nprobe=1 ($p2Mean vs $gaugeMean)")

    // stored lifecycle: frozen centroids + cell-partitioned vectors
    val q = emb.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-km-idx").toString
    LlmOps.buildKmAnnIndex(emb, dir)
    assert(LlmOps.annIvfKmIndexed(q, dir).collect().map(_.toSeq).toSet ===
      LlmOps.annIvfKm(emb).collect().map(_.toSeq).toSet,
      "stored trained-cell probe must be output-identical to in-query")
    assert(spark.read.parquet(s"$dir/centroids").count() === LlmOps.KmCells)
    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cellDirs.nonEmpty, "vectors must be cell-partitioned on disk")
    // append assigns against the STORED centroids: build over a slice
    // carrying the same trained centroids (the trainCap sample is a
    // function of the id slice, which both builds share), then append
    // the rest — probes must equal the full build's
    val grown = java.nio.file.Files.createTempDirectory("graft-km-grow").toString
    LlmOps.buildKmAnnIndex(emb, grown)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$grown/cells"))
    LlmOps.appendKmAnnIndex(emb.filter(col("vec_id") < 25), grown)
    LlmOps.appendKmAnnIndex(emb.filter(col("vec_id") >= 25), grown)
    assert(LlmOps.annIvfKmIndexed(q, grown).collect().map(_.toSeq).toSet ===
      LlmOps.annIvfKmIndexed(q, dir).collect().map(_.toSeq).toSet,
      "append-assigned cells against frozen centroids must probe identically")
  }

  test("semantic ingest gate: stored-cell probe ≡ direct, drops near-dups, self-cancels on replay") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") < 400L)
    val dir = java.nio.file.Files.createTempDirectory("graft-semix").toString
    LlmOps.buildAnnIndex(base, dir)
    val batch = LlmOps.incrementalVecBatch(emb)
    val survivors = LlmOps.incrementalDedupCosineIndexed(batch, dir, vecCol = "e")
      .collect().map(_.getLong(0)).toSet
    // perturbed copies of indexed vectors (same cell, cosine ≈ 1) drop
    val perturbed = base.filter(col("vec_id") % 10 === 0)
      .collect().map(_.getLong(0) + 1000000L).toSet
    assert(perturbed.nonEmpty && survivors.intersect(perturbed).isEmpty,
      "near-dup batch vectors must drop against the stored index")
    // equivalence with the index-less computation of the same semantics
    val bn = batch.withColumn("nrm", expr(s"sqrt(${LlmOps.dotSql("e", "e")})"))
    val bs = LlmOps.embBase(base)
      .withColumn("nrm", expr(s"sqrt(${LlmOps.dotSql("e", "e")})"))
    val dup = bn.as("b").join(bs.as("o"), col("b.label") === col("o.label"))
      .filter(expr(s"${LlmOps.dotSql("b.e", "o.e")} / (b.nrm * o.nrm)") >= 0.99)
      .select(col("b.vec_id")).distinct()
    val direct = batch.select("vec_id").join(dup, Seq("vec_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(survivors === direct, "stored-index probe must be output-identical")
    // the streaming loop's crash-consistency lean: once the survivors'
    // vectors are appended, a replay of the SAME batch self-cancels (a
    // vector has cosine 1 with itself)
    val keptDf = batch.join(
      LlmOps.incrementalDedupCosineIndexed(batch, dir, vecCol = "e"),
      Seq("vec_id"), "left_semi")
    LlmOps.appendAnnIndex(keptDf, dir, vecCol = "e")
    assert(LlmOps.incrementalDedupCosineIndexed(batch, dir, vecCol = "e")
      .count() === 0L, "replayed batch must self-cancel against its own append")
    // empty batch: no cells collected, no directories probed, no survivors
    assert(LlmOps.incrementalDedupCosineIndexed(
      batch.filter(lit(false)), dir, vecCol = "e").count() === 0L)
  }

  test("dedup recall gauge: n_hit counts band-blocked truth pairs, bounded by n_true") {
    // ids multiples of 20 so the %-20 subsample keeps them; 0 and 140 are
    // also %7==0, so nearDupCorpus injects their +1e7 tailed near-copies
    // (10000000 ≡ 0 mod 20 keeps the copies in the subsample too)
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = docs(0L -> text, 140L -> other,
      20L -> "completely different words entirely unrelated content here")
    val row = LlmOps.dedupRecall(LlmOps.nearDupCorpus(d)).collect()(0)
    val (nTrue, nHit, recall) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    // truth: the two injected tailed copies are the only Jaccard ≥ .6 pairs
    assert(nTrue === 2L)
    assert(nHit >= 0L && nHit <= nTrue)
    assert(recall === nHit.toDouble / nTrue)
    // tail-append near-copies share 38/42 shingles — the bands find them
    assert(recall === 1.0, s"expected full recall on tailed copies, got $recall")
  }

  test("payload dedup: exact byte copies group by content hash, keeper is min id") {
    val d = docs(10L -> "alpha beta gamma", 3L -> "other text here")
    // fixture injects an exact byte copy of doc 10 at +70000000
    val out = Multimodal.payloadDedup(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(10L -> 2L, 3L -> 1L))
  }

  test("payload near-dedup: single-byte edits pair, disjoint payloads stay apart") {
    // 26 and 52 are %13==0 → the fixture injects +80000000 copies with one
    // byte overwritten at offset 10 — byte-level near-duplicates; the two
    // originals are byte-disjoint random-ish strings. 300 tokens: per-bit
    // vote margins grow with the gram count (~√n), so a ~7-gram edit
    // reliably stays within the Hamming-3 verify at this length — the
    // same length class as the real documents table (~300 chars).
    val mk = (seed: Int) => (1 to 300).map(i => s"${('a' + (seed * i) % 26).toChar}${i % 10}").mkString(" ")
    val d = docs(26L -> mk(3), 52L -> mk(7))
    val out = Multimodal.payloadNearDedup(d).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((26L, 80000026L)), "one-byte edit must pair with its original")
    assert(pairs.contains((52L, 80000052L)))
    assert(!pairs.contains((26L, 52L)), "unrelated payloads must not pair")
    // verify column really is the Hamming distance: exact-copy pairs (none
    // here) would be 0; the one-byte edits flip only a few simhash bits
    assert(out.forall(r => r.getLong(2) >= 0L && r.getLong(2) <= Multimodal.PayloadMaxHamming))
  }

  test("payload dedup apply: exact and near copies collapse to the keeper, n_bytes survives") {
    // 130 is %10==0 AND %13==0: the fixture injects BOTH an exact byte
    // copy (+7e7) and a one-byte edit (+8e7) — a 3-node cluster that only
    // the CC resolution collapses; 52 gets just the near copy
    val mk = (seed: Int) => (1 to 300).map(i => s"${('a' + (seed * i) % 26).toChar}${i % 10}").mkString(" ")
    val d = docs(130L -> mk(3), 52L -> mk(7))
    val out = Multimodal.payloadDedupApply(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set(130L, 52L), s"only cluster-min keepers survive, got ${out.keySet}")
    // n_bytes is the payload byte length (UTF-8 of the text fixture)
    assert(out(52L) === mk(7).getBytes("UTF-8").length.toLong)
  }

  test("index stats: per-band key counts, hot bucket, and row totals off the stored band table") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    // two identical docs → every band has one bucket of 2; one loner
    val d = docs(1L -> mk("alpha"), 2L -> mk("alpha"), 9L -> mk("beta"))
    val dir = java.nio.file.Files.createTempDirectory("graft-mhix-stats").toString
    LlmOps.buildMinHashIndex(d, dir)
    val rows = LlmOps.minHashIndexStats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet === (0L until LlmOps.Bands.toLong).toSet)
    rows.values.foreach { case (nKeys, maxBucket, nRows) =>
      assert(nRows === 3L, "every doc contributes one row per band")
      assert(nKeys === 2L, "identical docs share a key, the loner has its own")
      assert(maxBucket === 2L, "the identical pair is the hot bucket")
    }
  }

  test("index coverage reconciles a stored index against the current corpus generation") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val base = docs(1L -> mk("alpha"), 2L -> mk("beta"), 9L -> mk("gamma"))
    val dir = java.nio.file.Files.createTempDirectory("graft-mhix-cov").toString
    LlmOps.buildMinHashIndex(base, dir)
    // next generation: doc 1 removed, 2 and 9 survive, 5 arrives
    val cur = docs(2L -> mk("beta"), 9L -> mk("gamma"), 5L -> mk("delta"))
    val cov = LlmOps.indexCoverage(cur, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cov === Map("indexed" -> 2L, "orphaned" -> 1L, "unindexed" -> 1L))
    // the generation the index was built over reconciles clean
    val self = LlmOps.indexCoverage(base, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(self === Map("indexed" -> 3L))
  }

  test("index coverage generalizes to the ANN cell and PQ code tables, replay duplicates don't double-count") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ann = java.nio.file.Files.createTempDirectory("graft-ann-cov").toString
    val pq = java.nio.file.Files.createTempDirectory("graft-pq-cov").toString
    LlmOps.buildAnnIndex(emb, ann)
    LlmOps.buildPqIndex(emb, pq)
    // a REPLAYED append leaves duplicate rows until compaction — the
    // audit's distinct() must still count each id once
    LlmOps.appendAnnIndex(emb.filter(col("vec_id") % 17 === 0), ann)
    // expectations derived from the fixture's own arithmetic: survivors
    // are indexed, the %11 removals orphaned, the shifted %13 arrivals
    // unindexed
    val n = emb.count()
    val removed = emb.filter(col("vec_id") % 11 === 0).count()
    val arrived = emb.filter(col("vec_id") % 13 === 0).count()
    val expected = Map("indexed" -> (n - removed),
      "orphaned" -> removed, "unindexed" -> arrived)
    val cur = LlmOps.vecSnapshotNext(emb)
    val annCov = LlmOps.indexCoverage(cur, ann, idCol = "vec_id",
        indexTable = "cells", indexIdCol = "vec_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(annCov === expected, s"ANN cell audit: $annCov")
    val pqCov = LlmOps.indexCoverage(cur, pq, idCol = "vec_id",
        indexTable = "codes", indexIdCol = "vec_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pqCov === expected, s"PQ code audit: $pqCov")
  }

  test("pruneMinHashIndexTo: orphans dropped, surviving probes identical, a removed-then-revised doc re-ingests") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val base = docs(1L -> mk("alpha"), 2L -> mk("beta"), 9L -> mk("gamma"))
    val dir = java.nio.file.Files.createTempDirectory("graft-mhix-prune").toString
    LlmOps.buildMinHashIndex(base, dir)
    // next generation: doc 1 removed (a takedown), 2 and 9 survive
    val cur = docs(2L -> mk("beta"), 9L -> mk("gamma"))
    // BEFORE the prune, doc 1's ghost vetoes its own revision — the
    // permanent-block failure mode the repair exists for
    val revised = docs(100L -> (mk("alpha") + " rev2"))
    val vetoed = LlmOps.incrementalDedupMinHashIndexed(revised, dir)
      .collect().map(_.getLong(0))
    assert(vetoed.isEmpty, "the orphaned signature still vetoes the revision")
    val ((sigB, sigA), (bandB, bandA)) = LlmOps.pruneMinHashIndexTo(cur, dir)
    assert((sigB, sigA) === ((3L, 2L)), "one orphaned signature row dropped")
    assert(bandB === 3L * LlmOps.Bands && bandA === 2L * LlmOps.Bands)
    // audit reads clean: no orphaned class left
    val cov = LlmOps.indexCoverage(cur, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cov === Map("indexed" -> 2L))
    // the revision now gates through
    val admitted = LlmOps.incrementalDedupMinHashIndexed(revised, dir)
      .collect().map(_.getLong(0))
    assert(admitted.toSeq === Seq(100L), "after the prune the ghost is gone")
    // probes over SURVIVING content are output-identical to an index
    // built fresh over the surviving corpus
    val fresh = java.nio.file.Files.createTempDirectory("graft-mhix-fresh").toString
    LlmOps.buildMinHashIndex(cur, fresh)
    val batch = docs(50L -> (mk("beta") + " tail"), 60L -> mk("epsilon"))
    val viaPruned = LlmOps.incrementalDedupMinHashIndexed(batch, dir)
      .collect().map(_.getLong(0)).toSet
    val viaFresh = LlmOps.incrementalDedupMinHashIndexed(batch, fresh)
      .collect().map(_.getLong(0)).toSet
    assert(viaPruned === viaFresh, "pruned-index probe ≡ fresh-index probe")
  }

  test("pruneAnnIndexTo / prunePqIndexTo: vector ghosts dropped, pruned probes match fresh builds") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ann = java.nio.file.Files.createTempDirectory("graft-ann-prune").toString
    val pq = java.nio.file.Files.createTempDirectory("graft-pq-prune").toString
    LlmOps.buildAnnIndex(emb, ann)
    LlmOps.buildPqIndex(emb, pq)
    val cur = LlmOps.vecSnapshotNext(emb)
    val n = emb.count()
    val removed = emb.filter(col("vec_id") % 11 === 0).count()
    val (cb, ca) = LlmOps.pruneAnnIndexTo(cur, ann)
    assert((cb, ca) === ((n, n - removed)), "cells: one row per surviving vector")
    val (kb, ka) = LlmOps.prunePqIndexTo(cur, pq)
    assert((kb, ka) === ((n, n - removed)), "codes: one row per surviving vector")
    val annCov = LlmOps.indexCoverage(cur, ann, idCol = "vec_id",
        indexTable = "cells", indexIdCol = "vec_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!annCov.contains("orphaned"), s"ANN audit clean after prune: $annCov")
    // probe equivalence: the pruned stored index answers like one built
    // fresh over the surviving vectors (codebook untouched by design —
    // same generation, so codes reconstruct identically)
    val qs = emb.filter(col("vec_id") < 8)
    val viaPruned = LlmOps.annIvfIndexed(qs, ann).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fresh = java.nio.file.Files.createTempDirectory("graft-ann-fresh").toString
    LlmOps.buildAnnIndex(emb.join(cur.select("vec_id"), Seq("vec_id"), "left_semi"), fresh)
    val viaFresh = LlmOps.annIvfIndexed(qs, fresh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaPruned === viaFresh, "pruned ANN probe ≡ fresh-build probe")
  }

  test("applyCorpusRemovals + corpusGc: removed ids leave the stored corpus, epoch layout survives, indexes follow") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val all = docs(1L -> mk("alpha"), 2L -> mk("beta"),
      9L -> mk("gamma"), 14L -> mk("delta"))
    val root = java.nio.file.Files.createTempDirectory("graft-gc").toString
    all.select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(3L)).as("epoch"))
      .write.mode("overwrite").partitionBy("epoch").parquet(s"$root/corpus")
    val idx = java.nio.file.Files.createTempDirectory("graft-gc-mh").toString
    LlmOps.buildMinHashIndex(all, idx)
    // docs 9 and 14 removed by the next snapshot
    val cur = docs(1L -> mk("alpha"), 2L -> mk("beta rev")) // 2 changed: stays (id-level)
    val (b, a) = LlmOps.corpusGc(spark, cur, s"$root/corpus",
      mhIndexDir = Some(idx))
    assert((b, a) === ((4L, 2L)))
    val after = spark.read.parquet(s"$root/corpus")
    assert(after.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // the changed doc's STORED text is untouched — GC is id-level only
    assert(after.filter(col("doc_id") === 2L).select("text")
      .collect()(0).getString(0) === mk("beta"))
    // epoch partition directories survive the rewrite
    assert(new java.io.File(s"$root/corpus").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("epoch=")))
    // and the chained index prune leaves the audit clean
    val cov = LlmOps.indexCoverage(cur, idx).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cov === Map("indexed" -> 2L))
  }

  test("stored payload index lifecycle: gate drops copies and near-re-encodes, append extends, compact heals replays, prune repairs") {
    import org.apache.spark.sql.functions.{col => c}
    val mk = (seed: String) => (1 to 60).map(i => s"$seed$i").mkString(" ")
    def mediaOf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .select(c("doc_id"), org.apache.spark.sql.functions.encode(c("text"), "UTF-8").as("payload"))
    val base = mediaOf(1L -> mk("alpha"), 2L -> mk("beta"), 9L -> mk("gamma"))
    val dir = java.nio.file.Files.createTempDirectory("graft-pay-lc").toString
    Multimodal.buildPayloadIndex(base, dir)
    // batch: an exact byte copy (Hamming 0), a one-char edit (small
    // Hamming), and a byte-disjoint arrival
    val edited = mk("beta").updated(10, 'x')
    val batch = mediaOf(71L -> mk("alpha"), 81L -> edited,
      91L -> (1 to 60).map(i => s"zqx$i").mkString(" "))
    val kept = Multimodal.incrementalPayloadDedupIndexed(batch, dir)
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(71L), "exact byte copy must drop at Hamming 0")
    assert(!kept.contains(81L), "one-byte re-encode must drop within the Hamming budget")
    assert(kept.contains(91L), "byte-disjoint payload must survive")
    // append the survivor; a SECOND identical batch now self-cancels
    Multimodal.appendPayloadIndex(
      batch.join(Seq(91L).toDF("doc_id"), Seq("doc_id"), "left_semi"), dir)
    val replay = mediaOf(191L -> (1 to 60).map(i => s"zqx$i").mkString(" "))
    assert(Multimodal.incrementalPayloadDedupIndexed(replay, dir)
      .collect().isEmpty, "appended survivor vetoes its own re-arrival")
    // a replayed append leaves duplicate rows; compaction collapses them
    Multimodal.appendPayloadIndex(
      batch.join(Seq(91L).toDF("doc_id"), Seq("doc_id"), "left_semi"), dir)
    val statsDup = Multimodal.payloadIndexStats(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_rows")).collect()(0).getLong(0)
    Multimodal.compactPayloadIndex(spark, dir)
    val statsClean = Multimodal.payloadIndexStats(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_rows")).collect()(0).getLong(0)
    assert(statsDup === 5L * Multimodal.PayloadSimChunks &&
      statsClean === 4L * Multimodal.PayloadSimChunks,
      s"dedupRows collapses the replayed append: $statsDup -> $statsClean")
    // prune to a generation without doc 1: its ghost stops vetoing
    val cur = mediaOf(2L -> mk("beta"), 9L -> mk("gamma"),
      91L -> (1 to 60).map(i => s"zqx$i").mkString(" "))
    val (pb, pa) = Multimodal.prunePayloadIndexTo(cur, dir)
    assert((pb, pa) === ((4L * Multimodal.PayloadSimChunks, 3L * Multimodal.PayloadSimChunks)))
    val revived = Multimodal.incrementalPayloadDedupIndexed(
      mediaOf(100L -> mk("alpha")), dir).collect().map(_.getLong(0))
    assert(revived.toSeq === Seq(100L), "after the prune the removed payload re-ingests")
    val cov = LlmOps.indexCoverage(cur, dir, indexTable = "chunks").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cov === Map("indexed" -> 3L), s"audit clean after prune: $cov")
  }

  test("stored decontamination index: benchmark grams frozen, leaked training docs flagged, append extends membership, compaction dedups") {
    val dir = java.nio.file.Files.createTempDirectory("graft-decontam").toString
    // benchmark: one frozen eval doc; its word-3-shingles are the
    // membership set
    val bench = docs(900L -> "the quick brown fox jumps over the lazy dog tonight")
    LlmOps.buildDecontamIndex(bench, dir)
    // train candidates: doc 1 embeds a verbatim 3-shingle window of the
    // benchmark ("quick brown fox" ...), doc 2 shares no window
    val train = docs(
      1L -> "we scraped a page saying the quick brown fox jumps right here",
      2L -> "completely unrelated corpus text with nothing shared at all")
    val out = LlmOps.decontaminateStored(train, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L)._2 && out(1L)._1 > 0, s"leaked doc must flag: $out")
    assert(out(2L) === ((0L, false)), s"clean doc must not flag: $out")
    // a NEW benchmark version appends its grams: doc 2's text joins the
    // suite, so doc 2 now flags
    LlmOps.appendDecontamIndex(
      docs(901L -> "completely unrelated corpus text with nothing shared at all"), dir)
    val out2 = LlmOps.decontaminateStored(train, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out2 === Map(1L -> true, 2L -> true), s"appended version must veto: $out2")
    // an overlapping (replayed) append leaves duplicate gram rows; the
    // probe's distinct keeps n_shared exact BEFORE compaction, and
    // compaction collapses the rows physically
    LlmOps.appendDecontamIndex(bench, dir)
    val preCompact = LlmOps.decontaminateStored(train, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val rowsDup = spark.read.parquet(s"$dir/grams").count()
    // the stats gauge surfaces the replay debt: physical rows exceed
    // distinct grams while the duplicate append sits uncompacted
    val gaugeDup = LlmOps.decontamIndexStats(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(gaugeDup.map(_._1).sum > gaugeDup.map(_._2).sum,
      s"gauge must show append debt: ${gaugeDup.toSeq}")
    LlmOps.compactDecontamIndex(spark, dir)
    val rowsClean = spark.read.parquet(s"$dir/grams").count()
    assert(rowsClean < rowsDup, "compaction must collapse the replayed grams")
    // post-compaction the gauge reads clean in every bucket
    assert(LlmOps.decontamIndexStats(spark, dir).collect()
      .forall(r => r.getLong(1) == r.getLong(2)), "debt must clear")
    val postCompact = LlmOps.decontaminateStored(train, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(preCompact === postCompact,
      s"n_shared must be replay-invariant: $preCompact vs $postCompact")
  }

  test("PQ drift gauge: per-cell counts mirror the codes table; budget bounds the high-err split") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-drift").toString
    LlmOps.buildPqIndex(emb, dir)
    val drift = LlmOps.pqDrift(emb, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val counts = LlmOps.pqIndexStats(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drift.keySet === counts.keySet, "one drift row per stored cell")
    drift.foreach { case (cell, (n, nHigh, maxErr)) =>
      assert(n === counts(cell), "drift scans exactly the stored codes")
      assert(nHigh >= 0L && nHigh <= n)
      assert(maxErr >= 0.0)
    }
    // quantization is LOSSY: far more vectors than centroids, so a
    // correct reconstruction must show error somewhere — err ≡ 0 (a
    // broken decode that returns the original vector) must fail here
    assert(drift.values.exists(_._3 > 0.0),
      "reconstruction error is identically zero — the decode is not measuring")
    // the budget partitions the same per-vector errors: an infinite
    // budget flags nothing, a negative one flags every vector
    val none = LlmOps.pqDrift(emb, dir, errBudget = Double.MaxValue).collect()
    assert(none.forall(_.getLong(2) === 0L))
    val all = LlmOps.pqDrift(emb, dir, errBudget = -1.0).collect()
    assert(all.forall(r => r.getLong(2) === r.getLong(1)))
  }

  test("PQ recall gauge: bounded per query; exact re-ranking can only improve it") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 5
    val rec = LlmOps.annRecallPq(emb, k).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rec.keySet === (0L until 8L).toSet, "one row per query")
    rec.values.foreach { case (hits, r) =>
      assert(hits >= 0L && hits <= k)
      assert(r === hits.toDouble / k)
    }
    // pin the gauge to an INDEPENDENTLY computed overlap — the bounds
    // and the hits/k identity alone would accept an always-zero gauge
    val truthSets = LlmOps.annTopK(emb, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val adcSets = LlmOps.annPq(emb, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    (0L until 8L).foreach { qid =>
      val want = (truthSets(qid) intersect adcSets(qid)).size.toLong
      assert(rec(qid)._1 === want,
        s"qid=$qid: gauge hits must equal the hand-computed overlap $want")
    }
    assert(rec.values.map(_._1).sum > 0L,
      "ADC recall must be nonzero on the harness embeddings")
    // dominance law: refine's top-k is the exact re-rank of the ADC
    // shortlist, so every truth member the shortlist contains makes the
    // refined top-k — refined recall ≥ raw ADC recall, per query
    val exact = LlmOps.annTopK(emb, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val refined = LlmOps.annPqRefine(emb, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    (0L until 8L).foreach { qid =>
      val refRecall = (exact(qid) intersect refined(qid)).size
      assert(refRecall >= rec(qid)._1,
        s"qid=$qid: refine must not lose truth members the shortlist holds")
    }
  }

  test("delta curation: churn-only gates against stored state; an update is not a dup of its old self") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val base = docs(1L -> mk("alpha"), 2L -> mk("beta"),
      3L -> mk("gamma"), 4L -> mk("delta"))
    val dir = java.nio.file.Files.createTempDirectory("graft-curdelta").toString
    LlmOps.buildMinHashIndex(base, dir)
    val next = docs(
      1L -> mk("alpha"),                // unchanged → not in the delta
      2L -> (mk("beta") + " tail"),     // changed: an UPDATE — must survive
      //  3 removed
      5L -> mk("gamma"),                // arrival, exact copy of doc 3 → exact gate
      6L -> (mk("delta") + " drift"),   // arrival, near-dup of doc 4 → near gate
      7L -> mk("fresh"),                // genuinely new → survives
      8L -> "tiny doc")                 // fails the quality gate (n_tokens)
    val out = LlmOps.curateDelta(base, next, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("0_delta" -> 5L, "1_quality" -> 4L,
      "2_exact" -> 3L, "3_near" -> 2L),
      s"each gate drops exactly its own case, got $out")
    // with the LM bar composed in: the model knows only the base
    // corpus' transitions, so the survivor whose text is base-derived
    // (doc 2, beta + tail) clears the bar while the genuinely-new doc 7
    // (transitions the reference corpus has never seen) drops — the
    // quality signal the first four gates cannot express
    val lm = java.nio.file.Files.createTempDirectory("graft-curdelta-lm").toString
    LlmOps.buildFluencyModel(base, lm)
    val outLm = LlmOps.curateDelta(base, next, dir, lmDir = Some(lm),
        fluencyThreshold = 0.5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(outLm === Map("0_delta" -> 5L, "1_quality" -> 4L,
      "2_exact" -> 3L, "3_near" -> 2L, "4_fluent" -> 1L),
      s"the LM bar drops exactly the unseen-transition survivor, got $outLm")
    // every gate composed (three-surface parity): a benchmark-leak
    // arrival passes quality and both dedups but dies at the decontam
    // stage — and the read-out shifts to the full funnel's six-stage
    // naming without disturbing the other gates' drops
    val dc = java.nio.file.Files.createTempDirectory("graft-curdelta-dc").toString
    LlmOps.buildDecontamIndex(docs(900L -> mk("bench")), dc)
    val nextLeak = docs(
      2L -> (mk("beta") + " tail"), 5L -> mk("gamma"),
      6L -> (mk("delta") + " drift"), 7L -> mk("fresh"),
      8L -> "tiny doc", 9L -> mk("bench"))
    val outFull = LlmOps.curateDelta(base, nextLeak, dir,
        lmDir = Some(lm), fluencyThreshold = 0.5,
        decontamDir = Some(dc)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(outFull === Map("0_delta" -> 6L, "1_quality" -> 5L,
      "2_decontam" -> 4L, "3_exact" -> 3L, "4_near" -> 2L,
      "5_fluent" -> 1L),
      s"the leak must die at decontam and nowhere else, got $outFull")
    // the long-lived-service form: same counts, and every cache the run
    // pinned is released before it returns — the session's cached-RDD
    // set is unchanged (a pre-existing bystander cache survives)
    spark.sqlContext.clearCache()
    val bystander = base.persist()
    bystander.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val report = LlmOps.curateDeltaReport(base, nextLeak, dir,
      lmDir = Some(lm), fluencyThreshold = 0.5, decontamDir = Some(dc))
    assert(report.toMap === outFull,
      s"report form must reproduce the lazy form's counts, got $report")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after === before,
      s"report must release exactly its own pins, leaked: ${after -- before}")
    bystander.unpersist()
  }

  test("per-language nightly bar: the minority update its own model admits is not judged on the majority's") {
    import org.apache.spark.sql.functions.lit
    def langDocs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "lang").withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("bigint"))
    // the dilution fixture, nightly: base corpus with a shared 'the'
    // prefix transitioning differently per language
    val base = langDocs(
      (1L to 20L).map(i =>
        (i * 10, "the dog runs and the cat sleeps and the bird sings now", "en")) ++ Seq(
        (5L, "the zub mira the zub mira the zub mira dun", "xx"),
        (15L, "the zub mira dun the zub mira the zub dun", "xx")): _*)
    val ix = java.nio.file.Files.createTempDirectory("graft-cdl-ix").toString
    val lm = java.nio.file.Files.createTempDirectory("graft-cdl-lm").toString
    val lmG = java.nio.file.Files.createTempDirectory("graft-cdl-lmg").toString
    LlmOps.buildMinHashIndex(base, ix)
    LlmOps.buildFluencyModelByLang(base, lm)
    LlmOps.buildFluencyModel(base, lmG)
    // the nightly churn: an xx arrival (shingle-novel under LSH — the
    // kelo filler breaks trigram overlap with both base xx docs at
    // Jaccard 0.2/0.36; transition-modeled enough for per-lang fluency
    // ≈0.71 but globally diluted to ≈0.43 by en's the→dog/cat/bird
    // mass) + an en control (reordered walk, Jaccard 0.58 vs the shared
    // base text, fluent ≈0.8 per-lang / ≈0.69 global — passes both bars)
    val next = langDocs(
      (200L, "the zub mira dun the zub kelo dun the kelo mira", "xx"),
      (201L, "the bird sings now the dog runs and the cat sleeps", "en"))
    val perLang = LlmOps.curateDelta(base, next, ix,
        lmLangDir = Some(lm), fluencyThreshold = 0.5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang("4_fluent") === 2L,
      s"both updates clear their own language's bar, got $perLang")
    val global = LlmOps.curateDelta(base, next, ix,
        lmDir = Some(lmG), fluencyThreshold = 0.5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(global("4_fluent") === 1L,
      s"the global bar drops the diluted xx update, got $global")
    // the terminal commit takes the per-language bar too
    val c = java.nio.file.Files.createTempDirectory("graft-cdl-c").toString
    val (n, _) = LlmOps.curateDeltaApply(base, next, c, ix, epoch = 1L,
      lmLangDir = Some(lm), fluencyThreshold = 0.5)
    assert(n === 2L, "the apply must commit the per-language survivors")
    assert(spark.read.parquet(c).filter(col("epoch") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(200L, 201L))
    // mutual exclusion holds across the nightly surfaces
    intercept[IllegalArgumentException] {
      LlmOps.curateDelta(base, next, ix, lmDir = Some(lmG),
        lmLangDir = Some(lm)).collect()
    }
  }

  test("curateDeltaApply: survivors commit once; every crash window replays to convergence") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val base = docs(1L -> mk("alpha"), 2L -> mk("beta"),
      3L -> mk("gamma"), 4L -> mk("delta"))
    val next = docs(
      2L -> (mk("beta") + " tail"),  // changed: an UPDATE — survives
      5L -> mk("gamma"),             // exact copy of doc 3 → exact gate
      6L -> (mk("delta") + " drift"),// near-dup of doc 4 → near gate
      7L -> mk("fresh"),             // genuinely new → survives
      8L -> "tiny doc")              // fails the quality gate
    def freshFixture(uri: String => String): (String, String) = {
      val root = uri(java.nio.file.Files.createTempDirectory("graft-cda").toString)
      LlmOps.buildMinHashIndex(base, s"$root/ix")
      (s"$root/corpus", s"$root/ix")
    }
    def idxRows(ix: String): (Set[(String, String, String, String)], Long) = {
      val b = spark.read.parquet(s"$ix/bands")
        .select("doc_id", "band_idx", "bk_bucket", "band_key").collect()
        .map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)),
          String.valueOf(r.get(2)), String.valueOf(r.get(3)))).toSet
      (b, spark.read.parquet(s"$ix/signatures").count())
    }
    // a plain root and the same root addressed as a `file:` URI, the form
    // a data-lake deployment passes
    for (uri <- Seq[String => String](identity, "file:" + _)) {
      // clean run: the committed partition IS the delta report's survivor
      // set (count parity with the stage read-out, content by id)
      val (c1, ix1) = freshFixture(uri)
      val (baseBands, _) = idxRows(ix1)
      val expected = LlmOps.curateDeltaReport(base, next, ix1)
        .toMap.apply("3_near")
      val (n1, r1) = LlmOps.curateDeltaApply(base, next, c1, ix1, epoch = 1L)
      assert(!r1 && n1 === expected, s"admitted $n1, report says $expected")
      val committed = spark.read.parquet(c1)
        .filter(col("epoch") === 1L).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(committed === Set(2L, 7L))
      val (cleanBands, cleanSigs) = idxRows(ix1)
      // the new rows belong only to admitted survivors (doc 2's UPDATE may
      // reproduce some of its old version's band rows — its text differs by
      // one token — so only containment is asserted, plus doc 7's arrival)
      val gained = (cleanBands -- baseBands).map(_._1)
      assert(gained.subsetOf(Set("2", "7")) && gained.contains("7"),
        s"index must gain only admitted survivors' band rows, gained $gained")
      // fully-committed replay: pure no-op — same count, index untouched
      val (n2, r2) = LlmOps.curateDeltaApply(base, next, c1, ix1, epoch = 1L)
      assert(r2 && n2 === n1)
      assert(idxRows(ix1) === (cleanBands, cleanSigs))
      // and the production point: a near-copy of an ADMITTED survivor
      // arriving the NEXT night is now vetoed by the appended index
      val night2 = docs(9L -> (mk("fresh") + " drift2"), 10L -> mk("novel"))
      val rep2 = LlmOps.curateDeltaReport(base, night2, ix1).toMap
      assert(rep2("3_near") === 1L,
        s"epoch-1 survivor must veto its near-copy next night, got $rep2")
      val (c3, ix3) = freshFixture(uri)
      val (n3, _) = LlmOps.curateDeltaApply(base, night2, c3, ix3, epoch = 1L)
      assert(n3 === 2L, "against a pristine index both night-2 docs survive")
      // crash window 1: corpus committed, index append never ran — the
      // replay takes the committed partition as authoritative and heals
      // the index to the clean run's state
      val (c4, ix4) = freshFixture(uri)
      intercept[RuntimeException] {
        LlmOps.curateDeltaApply(base, next, c4, ix4, epoch = 1L,
          crashHook = at => if (at == "corpus-committed")
            throw new RuntimeException("crash-1"))
      }
      assert(spark.read.parquet(c4).filter(col("epoch") === 1L).count() === n1,
        "corpus partition must be committed before the crash point")
      assert(idxRows(ix4)._1.map(_._1.toLong).forall(_ <= 4L),
        "no survivor index rows may exist before the corpus commit")
      val (n4, r4) = LlmOps.curateDeltaApply(base, next, c4, ix4, epoch = 1L)
      assert(r4 && n4 === n1)
      assert(idxRows(ix4) === (cleanBands, cleanSigs))
      // crash window 2: index appended, marker never written — the replay
      // re-appends (duplicates) and the commit's compaction pass heals the
      // index back to the clean run's distinct rows
      val (c5, ix5) = freshFixture(uri)
      intercept[RuntimeException] {
        LlmOps.curateDeltaApply(base, next, c5, ix5, epoch = 1L,
          compactAfter = false,
          crashHook = at => if (at == "index-appended")
            throw new RuntimeException("crash-2"))
      }
      val (n5, r5) = LlmOps.curateDeltaApply(base, next, c5, ix5, epoch = 1L)
      assert(r5 && n5 === n1)
      assert(idxRows(ix5)._1 === cleanBands,
        "replay duplicates must be erased by the commit's compaction")
      assert(idxRows(ix5)._2 === cleanSigs)
    }
  }

  test("pluggable token accounting: packer and budget sampler consume a tokenizer's counts") {
    import org.apache.spark.sql.functions.lit
    // a corpus with a tokenizer-produced count column (stands in for
    // bpeApplyStored's n_tokens joined back) that deliberately disagrees
    // with the whitespace count
    val d = docs(1L -> "a b c", 2L -> "d e", 3L -> "f g h i", 4L -> "j")
      .withColumn("n_bpe", (col("doc_id") * 3 + 1).cast("bigint"))
    // packer: start offsets must be prefix sums of the PLUGGED counts
    val packed = LlmOps.packSequences(d, budget = 8,
        tokenCountExpr = Some("n_bpe")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(packed(1L) === ((4L, 0L)) && packed(2L) === ((7L, 4L)) &&
      packed(3L) === ((10L, 11L)) && packed(4L) === ((13L, 21L)),
      s"offsets must cumsum the plugged counts, got $packed")
    // shard manifest rides the same counts
    val sh = LlmOps.packShards(d, shards = 2,
        tokenCountExpr = Some("n_bpe")).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(sh(1L) === 0L && sh(4L) === 1L, s"token-balanced split: $sh")
    // budget sampler: the maximal prefix under the PLUGGED counts
    // (salted-hash order); with budget map src t -> 12 and counts
    // 4/7/10/13 the prefix law keeps docs until the running sum crosses
    val kept = LlmOps.sampleByTokenBudget(d.withColumn("source", lit("t")),
        budgets = Map("t" -> 12L), tokenCountExpr = Some("n_bpe")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(kept.forall(_._3 <= 12L) && kept.nonEmpty,
      s"inclusive running sums must stay within the budget: ${kept.toSeq}")
    assert(kept.map(_._2).toSet.subsetOf(Set(4L, 7L, 10L, 13L)),
      "n_toks must be the plugged counts")
    // default path unchanged: explicit whitespace expression ≡ default
    val a = LlmOps.packSequences(d).collect().map(_.toSeq).toSet
    val b = LlmOps.packSequences(d,
      tokenCountExpr = Some("size(split(text, ' '))")).collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("per-language LM: a doc scores under its own language's model, and minority languages keep their own bar") {
    import org.apache.spark.sql.functions.lit
    // majority language 'en' (20 docs) vs minority 'xx' (3 docs). The
    // languages SHARE the prefix token 'the' but transition differently
    // from it — the dilution case: under a GLOBAL model c1('the') pools
    // both languages' mass, so P(zub|the) deflates by en's the→dog/cat/
    // bird transitions; the per-language model normalizes within xx and
    // the minority docs score their true in-language probability.
    val en = (1L to 20L).map(i =>
      (i * 10, "the dog runs and the cat sleeps and the bird sings now", "en"))
    val xx = Seq(
      (5L, "the zub mira the zub mira the zub mira dun", "xx"),
      (15L, "the zub mira dun the zub mira the zub dun", "xx"),
      (25L, "the zub dun mira the zub mira the zub mira", "xx"))
    val d = (en ++ xx).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
    val mDir = java.nio.file.Files.createTempDirectory("graft-lmlang").toString
    LlmOps.buildFluencyModelByLang(d, mDir)
    val perLang = LlmOps.fluencyStoredByLang(d, mDir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(3))).toMap
    assert(perLang.size === 23)
    // a global model built over the SAME mixed corpus
    val gDir = java.nio.file.Files.createTempDirectory("graft-lmglob").toString
    LlmOps.buildFluencyModel(d, gDir)
    val global = LlmOps.fluencyStored(d, gDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // per-language scoring must LIFT the minority docs relative to the
    // global model (their transitions stop being diluted by en's mass)
    xx.foreach { case (id, _, _) =>
      assert(perLang(id)._2 > global(id),
        s"xx doc $id: per-lang ${perLang(id)._2} must exceed global ${global(id)}")
    }
    // per-language partitioner: calibrate on the WHOLE fixture (refMod 1)
    // — every language gets its own tercile cuts, so the 3-doc minority
    // still lands one doc per bucket instead of being judged on en's bar
    val pDir = java.nio.file.Files.createTempDirectory("graft-lmlang-pt").toString
    LlmOps.buildLmPartitionerByLang(d, mDir, pDir, refMod = 1)
    val parts = LlmOps.lmPartitionByLang(d, mDir, pDir).collect()
      .map(r => (r.getString(1), r.getString(3)))
    val xxBuckets = parts.filter(_._1 == "xx").map(_._2).sorted.toSeq
    assert(xxBuckets === Seq("head", "middle", "tail"),
      s"3-doc minority must fill its own terciles, got $xxBuckets")
    val enCounts = parts.filter(_._1 == "en").groupBy(_._2)
      .view.mapValues(_.length).toMap
    // 20 en docs → ceil terciles 7/7/6 by the k = ceil(n/3) cut rule
    assert(enCounts === Map("tail" -> 7, "middle" -> 7, "head" -> 6),
      s"en terciles off: $enCounts")
    // the CUT-LESS-LANGUAGE contract: calibrate on the %10 slice — en's
    // ids are all multiples of 10, xx's (5, 15, 25) never are, so xx has
    // NO cuts row. The partition pass must still emit every xx doc
    // (left join), routed whole to 'head' (uncalibrated languages are
    // retained, never silently dropped — the minority-protection point)
    val pDir10 = java.nio.file.Files.createTempDirectory("graft-lmlang-p10").toString
    LlmOps.buildLmPartitionerByLang(d, mDir, pDir10, refMod = 10)
    val parts10 = LlmOps.lmPartitionByLang(d, mDir, pDir10).collect()
      .map(r => (r.getString(1), r.getString(3)))
    assert(parts10.length === 23, "no document may vanish on a cut-less language")
    assert(parts10.filter(_._1 == "xx").map(_._2).toSeq === Seq("head", "head", "head"),
      "a language absent from the calibration slice routes whole to the keep bucket")
  }

  test("per-language IDF: a corpus-common term stays distinctive inside the minority language; its own stopword stops ranking") {
    // the inversion per-language df exists to fix: 'data' saturates en
    // (df_glob 21) but appears in ONE yy doc — genuinely distinctive
    // FOR THAT DOC within yy — while 'zz' is yy's own stopword (in all
    // 3 yy docs, nowhere else: df_glob = df_yy = 3). Pooled df prices
    // 'data' at N/21 and 'zz' at N/3, ranking the stopword ABOVE the
    // distinctive term; per-language df (N_yy/1 vs N_yy/3) restores it.
    val en = (1L to 20L).map(i => (i * 10, s"data dog cat bird u$i", "en"))
    val yy = Seq(
      (5L, "zz data mira dun", "yy"),
      (15L, "zz mira dun pol", "yy"),
      (25L, "zz mira dun pol", "yy"))
    val d = (en ++ yy).toDF("doc_id", "text", "lang")
    val gDir = java.nio.file.Files.createTempDirectory("graft-idf-g").toString
    LlmOps.buildIdfModel(d, gDir)
    val lDir = java.nio.file.Files.createTempDirectory("graft-idf-l").toString
    LlmOps.buildIdfModelByLang(d, lDir)
    val batch = d.filter(col("doc_id") === 5L)
    val glob = LlmOps.keywordsStored(batch, gDir).collect()
      .map(r => r.getLong(1) -> r.getString(2)).toMap
    // global: zz/mira/dun all score 23/3, data scores 23/21 — the
    // stopword crowd fills the top-3 and the distinctive term is absent
    assert(glob.values.toSet === Set("dun", "mira", "zz"), s"got $glob")
    val lang = LlmOps.keywordsStoredByLang(batch, lDir).collect()
      .map(r => r.getLong(2) -> r.getString(3)).toMap
    // per-language: data = 3/1, the yy-ubiquitous tokens = 3/3
    assert(lang(1L) === "data", s"got $lang")
    // per-language gauge: both languages present as their own rows
    val langs = LlmOps.idfModelStatsByLang(spark, lDir).collect()
      .map(_.getString(0)).toSet
    assert(langs === Set("en", "yy"))
    // frozen-vocabulary contract, language-keyed: 'data' exists in the
    // model only under (en, data)/(yy, data) — a doc of a language the
    // model never saw ranks nothing (inner join, no cross-language leak)
    val alien = Seq((99L, "data zz", "qq")).toDF("doc_id", "text", "lang")
    assert(LlmOps.keywordsStoredByLang(alien, lDir).count() === 0L)
  }

  test("media GC: takedown leaves corpus and index clean; the ghost no longer vetoes a re-encode") {
    import graft.llm.Multimodal
    val mk = (seed: String) => (1 to 40).map(i => s"$seed$i").mkString(" ")
    val d = docs(1L -> mk("aa"), 2L -> mk("bb"), 3L -> mk("cc"), 4L -> mk("dd"))
    val m = Multimodal.media(d).select("doc_id", "payload")
    val root = java.nio.file.Files.createTempDirectory("graft-mediagc").toString
    m.withColumn("epoch", pmod(col("doc_id"), lit(2L)))
      .write.mode("overwrite").partitionBy("epoch").parquet(s"$root/media")
    Multimodal.buildPayloadIndex(m, s"$root/pay")
    // the re-encode of asset 3 (one byte overwritten) — vetoed while 3's
    // chunk rows are in the index
    val reenc = d.filter(col("doc_id") === 3L)
      .select((col("doc_id") + 500L).as("doc_id"),
        encode(concat(substring(col("text"), 1, 10), lit("x"),
          expr("substr(text, 12)")), "UTF-8").as("payload"))
    assert(Multimodal.incrementalPayloadDedupIndexed(reenc, s"$root/pay")
      .count() === 0L, "the live asset must veto its own re-encode")
    // takedown: asset 3 leaves the corpus; GC chains corpus + index
    val current = m.filter(col("doc_id") =!= 3L)
    val (before, after) = Multimodal.mediaGc(spark, current,
      s"$root/media", Some(s"$root/pay"))
    assert(before === 4L && after === 3L)
    assert(spark.read.parquet(s"$root/media").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 4L),
      "survivors byte-identical, takedown gone, epoch layout preserved")
    assert(spark.read.parquet(s"$root/pay/chunks")
      .filter(col("doc_id") === 3L).count() === 0L,
      "the chained prune must drop the takedown's chunk rows")
    // the versioning point: after GC the ghost is gone and the re-encode
    // gates through
    assert(Multimodal.incrementalPayloadDedupIndexed(reenc, s"$root/pay")
      .collect().map(_.getLong(0)).toSet === Set(503L),
      "a taken-down asset's ghost must not veto its re-encode after GC")
    // re-running the GC converges (prune of a pruned table is a no-op)
    val (b2, a2) = Multimodal.mediaGc(spark, current,
      s"$root/media", Some(s"$root/pay"))
    assert(b2 === 3L && a2 === 3L)
    // the as-of read returns exactly the ≤-bound epochs of what remains
    val asof = Multimodal.readMediaAsOf(spark, s"$root/media", 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(asof === Set(2L, 4L), s"epoch-0 survivors only, got $asof")
  }

  test("per-language batch funnel: the minority survivor clears its own bar where the global funnel drops it") {
    import org.apache.spark.sql.functions.lit
    def langDocs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "lang").withColumn("source", lit("t"))
    // the per-language LM fixture (dilution case): en majority sharing
    // the 'the' prefix with a 3-doc xx minority whose transitions the
    // GLOBAL model deflates below the bar
    val en = (1L to 20L).map(i =>
      (i * 10, "the dog runs and the cat sleeps and the bird sings now", "en"))
    val xx = Seq(
      (5L, "the zub mira the zub mira the zub mira dun", "xx"),
      (15L, "the zub mira dun the zub mira the zub dun", "xx"),
      (25L, "the zub dun mira the zub mira the zub mira", "xx"))
    val d = langDocs((en ++ xx): _*)
    val lmL = java.nio.file.Files.createTempDirectory("graft-ffl-lml").toString
    val lmG = java.nio.file.Files.createTempDirectory("graft-ffl-lmg").toString
    val dc = java.nio.file.Files.createTempDirectory("graft-ffl-dc").toString
    LlmOps.buildFluencyModelByLang(d, lmL)
    LlmOps.buildFluencyModel(d, lmG)
    LlmOps.buildDecontamIndex(
      docs(900L -> "totally unrelated benchmark prose sharing no trigram at all"), dc)
    def stages(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perLang = stages(LlmOps.curationFunnelFullLang(d, lmL, dc, threshold = 0.5))
    val glob = stages(LlmOps.curationFunnelFull(d, lmG, dc, threshold = 0.5))
    // gates 0-4 are bar-independent: both funnels agree stage for stage
    for (s <- Seq("0_raw", "1_quality", "2_decontam", "3_exact_dedup", "4_near_dedup"))
      assert(perLang(s) === glob(s), s"stage $s must not depend on the bar")
    assert(perLang("4_near_dedup") >= 2L,
      s"fixture must carry an en and an xx survivor into stage 5, got $perLang")
    // the parity point: under its own language's model every survivor
    // clears 0.5; under the global model the xx survivor is diluted
    // below it and drops — the exact asymmetry the per-language family
    // exists to fix, now closed on the batch surface too
    assert(perLang("5_fluent") === perLang("4_near_dedup"),
      s"every survivor must clear its own language's bar, got $perLang")
    assert(glob("5_fluent") < glob("4_near_dedup"),
      s"the global bar must drop the diluted minority survivor, got $glob")
    // the terminal apply writes exactly the funnel's stage-5 survivors
    val applied = LlmOps.curationApplyFullLang(d, lmL, dc, threshold = 0.5)
      .collect()
    assert(applied.length.toLong === perLang("5_fluent"),
      "the witness dump must carry the per-language survivor set")
    assert(applied.forall(r => r.getLong(1) > 0L), "n_chars witnesses real rows")
  }

  test("curateDeltaApply: non-default text column — crash replay reads the canonical committed layout") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val base = docs(1L -> mk("alpha"), 2L -> mk("beta"))
      .withColumnRenamed("text", "body")
    val next = docs(2L -> (mk("beta") + " tail"), 7L -> mk("fresh"))
      .withColumnRenamed("text", "body")
    val root = java.nio.file.Files.createTempDirectory("graft-cda-col").toString
    LlmOps.buildMinHashIndex(base, s"$root/ix", textCol = "body")
    intercept[RuntimeException] {
      LlmOps.curateDeltaApply(base, next, s"$root/corpus", s"$root/ix",
        epoch = 1L, textCol = "body",
        crashHook = at => if (at == "corpus-committed")
          throw new RuntimeException("crash"))
    }
    // the replay window that used to throw column-not-found under a
    // non-default textCol: the committed partition is canonical
    // (doc_id, text) regardless of the caller's column name
    val (n, r) = LlmOps.curateDeltaApply(base, next, s"$root/corpus",
      s"$root/ix", epoch = 1L, textCol = "body")
    assert(r && n === 2L, s"replay must converge, got ($n, $r)")
    assert(spark.read.parquet(s"$root/corpus").filter(col("epoch") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L, 7L))
  }

  test("fluencyStoredByLang pins nothing: no persistent RDDs survive the probe") {
    val d = Seq((10L, "the dog runs and the cat sleeps", "en"),
        (20L, "the zub mira dun the zub mira", "xx"))
      .toDF("doc_id", "text", "lang")
    val mDir = java.nio.file.Files.createTempDirectory("graft-lmpin").toString
    LlmOps.buildFluencyModelByLang(d, mDir)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = LlmOps.fluencyStoredByLang(d, mDir).collect()
    assert(out.length === 2)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"the convenience probe must cache nothing (fluencyStored's shape), leaked RDD ids $leaked")
  }

  test("lm calibration cap: an above-slice cap reproduces the full-rank cuts; a binding cap stays valid") {
    import org.apache.spark.sql.functions.lit
    val en = (1L to 20L).map(i =>
      (i * 10, "the dog runs and the cat sleeps and the bird sings now", "en"))
    val xx = Seq(
      (5L, "the zub mira the zub mira the zub mira dun", "xx"),
      (15L, "the zub mira dun the zub mira the zub dun", "xx"),
      (25L, "the zub dun mira the zub mira the zub mira", "xx"))
    val d = (en ++ xx).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
    val mDir = java.nio.file.Files.createTempDirectory("graft-calib-m").toString
    LlmOps.buildFluencyModelByLang(d, mDir)
    // EXPECTED cuts, derived independently: rank the FULL slice per
    // language by (fluency, doc_id), take the ceil(n/3)/ceil(2n/3) rows
    val scored = LlmOps.fluencyStoredByLang(d, mDir).collect()
      .map(r => (r.getString(1), r.getDouble(3), r.getLong(0)))
    val expected = scored.groupBy(_._1).map { case (lang, g) =>
      val s = g.map(x => (x._2, x._3)).sorted
      val (k1, k2) = ((s.length + 2) / 3, (2 * s.length + 2) / 3)
      lang -> (s(k1 - 1), s(k2 - 1))
    }
    // cap ABOVE every language's slice: the MinKAgg selection is the
    // identity and the frozen cuts equal the full-rank cuts exactly
    val pA = java.nio.file.Files.createTempDirectory("graft-calib-a").toString
    LlmOps.buildLmPartitionerByLang(d, mDir, pA, refMod = 1,
      maxPerLang = 65536)
    val cutsA = spark.read.parquet(s"$pA/cuts").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)),
        (r.getDouble(3), r.getLong(4)))).toMap
    assert(cutsA === expected,
      s"above-slice cap must freeze the uncapped cuts, got $cutsA vs $expected")
    // BINDING cap (2 per language): calibration sees ≤2 docs per
    // language — the cut rows must come from the slice and the apply
    // pass still buckets EVERY document
    val pB = java.nio.file.Files.createTempDirectory("graft-calib-b").toString
    LlmOps.buildLmPartitionerByLang(d, mDir, pB, refMod = 1, maxPerLang = 2)
    val cutsB = spark.read.parquet(s"$pB/cuts").collect()
    assert(cutsB.length === 2, "one cuts row per language")
    val ids = (en ++ xx).map(_._1).toSet
    assert(cutsB.forall(r => ids.contains(r.getLong(2)) && ids.contains(r.getLong(4))),
      "capped cuts must be real sampled rows")
    assert(LlmOps.lmPartitionByLang(d, mDir, pB).count() === 23L,
      "a binding cap must still bucket the whole corpus")
  }

  test("per-language LM gauge: a collapsed minority model is visible as its own (missing) row") {
    // 'en' trains normally; every 'yy' doc is sub-bigram (one token), so
    // yy's model collapses to ZERO stored rows — the failure the gauge
    // exists to surface. The global lmStats would fold en's healthy mass
    // over the hole; the per-language gauge shows en nonzero and yy GONE.
    val d = Seq(
        (1L, "the dog runs and the cat sleeps", "en"),
        (2L, "the bird sings and the dog naps", "en"),
        (3L, "solo", "yy"), (4L, "tok", "yy"))
      .toDF("doc_id", "text", "lang")
    val mDir = java.nio.file.Files.createTempDirectory("graft-lmgauge").toString
    LlmOps.buildFluencyModelByLang(d, mDir)
    val rows = LlmOps.lmStatsLang(spark, mDir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rows.get("en").exists(_ > 0L), s"healthy language must read nonzero mass, got $rows")
    assert(!rows.contains("yy"),
      s"a collapsed language must surface as a missing/zero row, not be averaged away: $rows")
    // and the global gauge over the same artifact indeed hides it
    assert(LlmOps.lmStats(spark, mDir).collect()(0).getLong(2) > 0L)
  }

  test("per-language classifier resolves h56 on a session without GraftExtensions") {
    // newSession clones a fresh FunctionRegistry — dropping h56 there
    // models a session built without the extensions, without touching
    // the shared suite session
    val s2 = spark.newSession()
    s2.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("h56"))
    assert(!s2.catalog.functionExists("h56"))
    import s2.implicits._
    val d = Seq(
        (1L, "solid useful prose with plenty of ordinary words here", "en"),
        (2L, "zq zq zq zq zq zq zq zq zq zq zq zq", "en"),
        (3L, "another perfectly reasonable document of normal text", "xx"))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-qclf-noext").toString
    LlmOps.buildQualityClassifierByLang(d, dir)
    val out = LlmOps.qualityScoreStoredByLang(d, dir).collect()
    assert(out.length === 3,
      "builder and probe must run on the extension-less session, which registers the native h56")
  }

  test("Lloyd/truth memo is regeneration-sensitive: a corpus rewritten in place retrains") {
    // the in-session trained-centroid and exact-truth memos key on the
    // source files' (path, size, mtime) fingerprint — the staleness
    // hazard is a harness that REGENERATES the parquet under the same
    // directory in one JVM and then probes stale centroids. Ground
    // truth: the same shifted corpus written to a NEVER-SEEN path (a
    // fresh memo key, genuine training). The in-place rewrite must
    // produce bit-identical output to that fresh-path run — a stale
    // memo hit would reuse shift-0 centroids and diverge.
    def vecs(shift: Double) = (0L to 59L).map(i =>
      (i, Seq(math.cos(i * 0.7 + shift), math.sin(i * 0.7 + shift))))
    def write(p: String, shift: Double): Unit =
      vecs(shift).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(p)
    val root = java.nio.file.Files.createTempDirectory("graft-lloyd-regen").toString
    try {
      def km(p: String) = LlmOps.annIvfKm(spark.read.parquet(p),
          k = 3, nQueries = 4, c = 4, trainMod = 1L, dim = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
        .toSeq.sorted
      def truth(p: String) = LlmOps.annRecall(spark.read.parquet(p),
          k = 3, nQueries = 4, bucketBits = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      write(s"$root/emb", 0.0)
      val cold = (km(s"$root/emb"), truth(s"$root/emb")) // seed the memos at shift 0
      write(s"$root/emb", 1.5) // in-place regeneration
      val regen = (km(s"$root/emb"), truth(s"$root/emb"))
      write(s"$root/fresh", 1.5) // same data, never-memoized path
      val fresh = (km(s"$root/fresh"), truth(s"$root/fresh"))
      assert(regen === fresh,
        "in-place regeneration must miss the memo and retrain on the new data")
      assert(regen !== cold, "the shifted corpus must actually change the output")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
