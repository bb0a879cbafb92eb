package graft.plans

import graft.SparkSpec
import graft.cdc.ops.Normalize
import graft.functions.NormalizeEpochMillis
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Custom Catalyst surface: the codegen'd expressions and their SQL
  * registration, each compared with the SQL-expressible chain it fuses.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private val regimes = Seq(
    1704067200000000000L, // ns
    1704067200000L,       // ms
    1704067200L,          // s
    5L,                   // small passthrough
    100000000000000L,     // ns-threshold boundary (not >) → passthrough
    100000000000L)        // ms-threshold boundary → seconds branch

  test("normalize_epoch_millis SQL function is registered and codegen-correct") {
    val got = regimes.toDF("v")
      .selectExpr("normalize_epoch_millis(v) as n")
      .as[Long].collect().toSeq
    assert(got === regimes.map(NormalizeEpochMillis.normalize))
  }

  test("native expression matches the SQL-expressible when-chain bit-for-bit") {
    val df = regimes.toDF("v")
    val chain = df.select(ExtensionsSpec.commitMsChain(col("v")).as("n")).as[Long].collect().toSeq
    val native = df.selectExpr("normalize_epoch_millis(v) as n").as[Long].collect().toSeq
    assert(chain === native)
  }

  test("h56 native expression equals the conv(substr(md5)) chain on arbitrary strings") {
    val ss = Seq("", "a", "alpha beta gamma", "sample|12345", "µ-unicode ≠ ascii",
      "\t whitespace \n", "x" * 1000) ++
      (0 until 200).map(i => s"tok$i shingle ${i * 31}")
    val rows = ss.toDF("s")
      .selectExpr("h56(s) AS native",
        "cast(conv(substr(md5(s), 1, 14), 16, 10) as bigint) AS chain")
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // and the value is always a non-negative 56-bit int
    rows.foreach(r => assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 56)))
  }

  test("h56 works inside higher-order-function lambdas (the dedup call shape)") {
    val got = Seq(Seq("a", "b", "c")).toDF("xs")
      .selectExpr("transform(xs, x -> h56(x)) AS hs")
      .selectExpr("hs[0]", "hs[1]", "hs[2]")
      .collect()(0)
    val exp = Seq("a", "b", "c").map(s =>
      graft.functions.Md5Prefix56.hash(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    assert(Seq(got.getLong(0), got.getLong(1), got.getLong(2)) === exp)
  }

  test("null propagates through the native expression") {
    val r = Seq[java.lang.Long](null).toDF("v")
      .selectExpr("normalize_epoch_millis(v) as n").collect()(0)
    assert(r.isNullAt(0))
  }

  test("minhash_sigs fused pass equals the 12 array_min(transform) walks, nulls included") {
    import graft.llm.LlmOps
    // arbitrary hash arrays incl. empty, singleton, null elements, and a
    // 500-element spread over the full [0, P) domain
    val cases: Seq[Seq[java.lang.Long]] = Seq(
      Seq.empty,
      Seq(java.lang.Long.valueOf(0L)),
      Seq(java.lang.Long.valueOf(LlmOps.MersenneP - 1)),
      Seq(null),
      Seq(java.lang.Long.valueOf(7L), null, java.lang.Long.valueOf(123456789L)),
      (0 until 500).map(i => java.lang.Long.valueOf((i * 2654435761L) % LlmOps.MersenneP)))
    val unfused = (1 to LlmOps.NumHashes).map(j =>
      s"array_min(transform(gs, g -> (${LlmOps.affineA(j)} * g + ${LlmOps.affineB(j)}) % ${LlmOps.MersenneP})) AS u$j")
    val rows = cases.toDF("gs")
      .selectExpr(Seq("minhash_sigs(gs) AS fused") ++ unfused: _*)
      .collect()
    rows.foreach { r =>
      val fused = r.getSeq[java.lang.Long](0)
      assert(fused.size === LlmOps.NumHashes)
      (1 to LlmOps.NumHashes).foreach { j =>
        val u = if (r.isNullAt(j)) null else java.lang.Long.valueOf(r.getLong(j))
        assert(fused(j - 1) === u, s"hash $j diverged")
      }
    }
    // null input array → null result (UnaryExpression null contract)
    val nr = Seq[Seq[java.lang.Long]](null).toDF("gs")
      .selectExpr("minhash_sigs(gs) AS fused").collect()(0)
    assert(nr.isNullAt(0))
  }

  test("bigram_rle fused pass equals the split/sort/RLE SQL chain, edge shapes included") {
    // repeated bigrams, consecutive/trailing spaces (empty tokens KEPT by
    // split limit -1), single token, empty string, unicode, long mixed.
    // Supplementary-plane trap: 'ﬀ' (U+FB00, UTF-8 EF AC 80) sorts before
    // '𝕏' (U+1D54F, UTF-8 F0 9D 95 8F) in UTF-8 byte order — array_sort's
    // and the native expression's — but after it in UTF-16 code units.
    val cases = Seq(
      "𝕏 ﬀ 𝕏 ﬀ z",
      "a b a b a c",
      "x  y",          // double space → empty middle token
      "tail space ",   // trailing empty token
      "solo",
      "",
      "ü ber ü ber",
      (1 to 200).map(i => s"w${i % 13}").mkString(" "))
    val sqlChain = Seq(
      "split(text, ' ') AS t",
      "CASE WHEN size(split(text, ' ')) >= 2 THEN array_sort(transform(sequence(1, size(split(text, ' ')) - 1), i -> struct(element_at(split(text, ' '), i) as w1, element_at(split(text, ' '), i + 1) as w2))) END AS bgs")
    val rows = cases.toDF("text")
      .selectExpr(Seq("text", "bigram_rle(text) AS fused") ++ sqlChain: _*)
      .selectExpr("text", "fused",
        "CASE WHEN bgs IS NULL THEN array() ELSE transform(filter(sequence(1, size(bgs)), i -> i = size(bgs) or not (element_at(bgs, i) = element_at(bgs, i + 1))), (e, j) -> struct(element_at(bgs, e).w1 as w1, element_at(bgs, e).w2 as w2, cast(e - if(j = 0, 0, element_at(filter(sequence(1, size(bgs)), i -> i = size(bgs) or not (element_at(bgs, i) = element_at(bgs, i + 1))), j)) as bigint) as n)) END AS unfused")
      .collect()
    rows.foreach { r =>
      val fused = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
      val unfused = r.getSeq[org.apache.spark.sql.Row](2)
        .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
      assert(fused === unfused, s"diverged on '${r.getString(0)}'")
    }
    val nr = Seq[String](null).toDF("text")
      .selectExpr("bigram_rle(text) AS fused").collect()(0)
    assert(nr.isNullAt(0))
  }

  test("token_rle fused pass equals the distinct/count SQL chain, edge shapes included") {
    // repeated tokens, consecutive/trailing spaces (empty tokens KEPT by
    // split limit -1 — so Σtf always equals size(split)), single token,
    // empty string (ONE empty token), unicode, long mixed, and the
    // bigram test's UTF-8 vs UTF-16 order trap
    val cases = Seq(
      "𝕏 ﬀ 𝕏 ﬀ z",
      "a b a b a c",
      "x  y",
      "tail space ",
      "solo",
      "",
      "ü ber ü ber",
      (1 to 200).map(i => s"w${i % 13}").mkString(" "))
    val rows = cases.toDF("text")
      .selectExpr("text", "token_rle(text) AS fused",
        "transform(array_sort(array_distinct(split(text, ' '))), w -> struct(w AS tok, cast(size(filter(split(text, ' '), x -> x = w)) AS bigint) AS tf)) AS unfused",
        "cast(size(split(text, ' ')) AS bigint) AS n_split")
      .collect()
    rows.foreach { r =>
      val fused = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getString(0), x.getLong(1)))
      val unfused = r.getSeq[org.apache.spark.sql.Row](2)
        .map(x => (x.getString(0), x.getLong(1)))
      assert(fused === unfused, s"diverged on '${r.getString(0)}'")
      // the mass invariant every scorer's fold relies on
      assert(fused.map(_._2).sum === r.getLong(3),
        s"Σtf ≠ size(split) on '${r.getString(0)}'")
    }
    val nr = Seq[String](null).toDF("text")
      .selectExpr("token_rle(text) AS fused").collect()(0)
    assert(nr.isNullAt(0))
  }

  test("payload_simhash fused pass equals the hex/explode/vote SQL chain, edge lengths included") {
    // empty, 1-3 byte (single short gram), exactly 4, duplicate-gram-heavy
    // (aaaa... packs every window identical), and a 300-byte spread
    val cases: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray,
      Array[Byte](0x7f),
      Array[Byte](0, 1, 2),
      Array[Byte](1, 2, 3, 4),
      Array.fill[Byte](64)('a'.toByte),
      (0 until 300).map(i => ((i * 131) % 251).toByte).toArray)
    val df = cases.toDF("payload")
      .withColumn("hx", hex(col("payload")))
      .withColumn("grams", expr(
        "array_distinct(transform(sequence(1, greatest(length(hx) div 2 - 3, 1)), i -> substr(hx, 2*i - 1, 8)))"))
    val unfusedSh = {
      val votes = (0 until graft.functions.PayloadSimHash.Bits).map(j =>
        s"(CASE WHEN aggregate(grams, 0, (a, g) -> a + (CASE WHEN (h56(g) div ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)")
      votes.mkString(" + ")
    }
    val rows = df.selectExpr("payload_simhash(payload) AS fused",
        s"CAST($unfusedSh AS BIGINT) AS unfused").collect()
    rows.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), "fused simhash diverged from the SQL chain")
    }
    // null payload → null result
    val nr = Seq[Array[Byte]](null).toDF("payload")
      .selectExpr("payload_simhash(payload) AS fused").collect()(0)
    assert(nr.isNullAt(0))
  }
}

object ExtensionsSpec {
  /** P3 as the SQL-expressible `when`-chain the DuckDB oracle states — the
    * independent reference for [[NormalizeEpochMillis]].
    */
  def commitMsChain(v: Column): Column =
    when(v.isNull, lit(null).cast("long"))
      .when(v > lit(100000000000000L), Normalize.intDiv(v, lit(1000000L)))
      .when(v > lit(100000000000L), v)
      .when(v > lit(1000000000L), v * lit(1000L))
      .otherwise(v)
}
