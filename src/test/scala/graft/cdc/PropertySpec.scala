package graft.cdc

import graft.SparkSpec
import graft.cdc.ops.{Normalize, Route}
import graft.functions.NormalizeEpochMillis
import graft.plans.ExtensionsSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator properties (SURVEY §5.3): totality of the
  * normalizers over arbitrary input, fan-out cardinality, and
  * native-vs-chain agreement. Generators are driven with fixed seeds so
  * runs are deterministic.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    val out = (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))
    // a failed suchThat yields None — guard against a property running
    // over zero cases and passing vacuously
    assert(out.size >= (n + 1) / 2,
      s"generator produced only ${out.size}/$n cases — property would be near-vacuous")
    out
  }

  test("P4 boolNorm is total over arbitrary strings: true/false/null only, no throw") {
    val ss = samples(Gen.oneOf(
      Gen.alphaNumStr, Gen.asciiPrintableStr,
      Gen.oneOf("true", "FALSE", " 1 ", "y", "n", "", "µ", "\t")), 200)
    val rows = ss.toDF("s").select(Normalize.boolNorm(col("s"))).collect()
    assert(rows.length === ss.length)
    rows.foreach(r => assert(r.isNullAt(0) || r.get(0).isInstanceOf[Boolean]))
  }

  test("P4 case/whitespace invariance: norm(s) == norm(lower(trim(s)))") {
    val sampled = samples(Gen.oneOf(
      "true", "TRUE", "  True ", "yes", "Y", "1", "false", "NO", " n ",
      "0", "", "  ", "maybe", "2", "on", "off"), 100)
    // every case variant of every accepted word, plus the non-ASCII
    // letters whose case mapping touches ASCII: the Kelvin sign (lower
    // case `k`), dotted capital I (lower case `i` + U+0307) and long s
    // (upper case `S`)
    def variants(w: String): Seq[String] = w.foldLeft(Seq("")) { (acc, c) =>
      acc.flatMap(p => Seq(c.toLower, c.toUpper).distinct.map(p + _))
    }
    val words = Seq("true", "1", "yes", "y", "false", "0", "no", "n", "")
    val exotic = Seq("\u212A", "\u0130", "\u017F", "ye\u017F", "\u212Ano", " \u0130 ")
    val ss = sampled ++ words.flatMap(variants) ++ exotic
    assert(words.flatMap(variants).size === 67)
    val both = ss.toDF("s")
      .select(Normalize.boolNorm(col("s")).as("a"),
        Normalize.boolNorm(lower(trim(col("s")))).as("b"))
      .collect()
    both.foreach(r => assert(Option(r.get(0)) === Option(r.get(1))))
  }

  test("P3 native expression agrees with the when-chain over arbitrary longs") {
    val vs = samples(Gen.oneOf(
      Gen.chooseNum(0L, Long.MaxValue - 1000),
      Gen.chooseNum(0L, 4000000000000000L),
      Gen.chooseNum(-1000000L, 1000000L)), 300)
    val chain = vs.toDF("v")
      .select(ExtensionsSpec.commitMsChain(col("v"))).as[Long].collect().toSeq
    assert(chain === vs.map(NormalizeEpochMillis.normalize))
  }

  test("E1 fan-out cardinality equals total recordIds count; idx in bounds") {
    val lists = samples(Gen.listOf(Gen.listOfN(3, Gen.alphaNumStr).map(_.take(2))), 5).flatten
    val df = lists.zipWithIndex.map { case (ids, i) => (i.toLong, ids) }
      .toDF("event_id", "record_ids")
    val out = df.transform(Route.fanOut)
    assert(out.count() === lists.map(_.size).sum.toLong)
    val bad = out.filter(col("idx") >= size(col("record_ids")) || col("idx") < 0)
    assert(bad.count() === 0L)
  }

  test("int8 quantization properties over random vectors: codes in ±127, error ≤ scale/2") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-1000.0f, 1000.0f))
    val vecs = samples(vecGen, 60).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray, 0) }
      .toDF("vec_id", "embedding", "label")
    val rows = graft.llm.LlmOps.quantizeInt8(vecs).collect()
    rows.foreach { r =>
      val q = r.getSeq[Int](r.fieldIndex("q"))
      val scale = r.getAs[Double]("scale")
      val err = r.getAs[Double]("max_abs_err")
      assert(q.forall(c => c >= -127 && c <= 127), s"code out of range: $q")
      // round() puts the reconstruction within half a step everywhere
      assert(err <= scale / 2 + 1e-9, s"err $err > scale/2 ${scale / 2}")
    }
  }

  test("P8 mask never reveals more than the last 4 chars and preserves length") {
    val ss = samples(Gen.asciiPrintableStr, 150)
    val rows = ss.toDF("s")
      .select(col("s"), Normalize.maskSecret(col("s")).as("m")).collect()
    rows.foreach { r =>
      val s = r.getString(0); val m = r.getString(1)
      assert(m.length === s.length)
      if (s.nonEmpty) {
        val starred = m.dropRight(4.min(s.length))
        assert(starred.forall(_ == '*'))
        if (s.length > 4) assert(m.takeRight(4) === s.takeRight(4))
      }
    }
  }
}
