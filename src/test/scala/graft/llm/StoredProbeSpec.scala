package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Stored-artifact probes over an empty batch: the partition pin of an
  * empty footprint filters on `false`, so the artifact scan leaves the
  * optimized plan and the probe returns no rows.
  */
class StoredProbeSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** File scans in `df`'s optimized plan whose root path lies under `dir`. */
  private def artifactScans(df: DataFrame, dir: String) =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect {
      case r: HadoopFsRelation
          if r.location.rootPaths.exists(_.toUri.getPath.startsWith(dir)) => r
    }

  test("empty footprint ⇒ empty probe") {
    val mk = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val corpus = docs(1L -> mk("alpha"), 2L -> "a b a b c", 3L -> mk("beta"))
    val lmDir = tmp("graft-empty-lm")
    LlmOps.buildFluencyModel(corpus, lmDir)
    val idfDir = tmp("graft-empty-idf")
    LlmOps.buildIdfModel(corpus, idfDir)
    val qDir = tmp("graft-empty-qclf")
    LlmOps.buildQualityClassifier(LlmOps.qclfCorpus(corpus), qDir)
    val mhDir = tmp("graft-empty-mh")
    LlmOps.buildMinHashIndex(corpus, mhDir)
    // (probe, the artifact it pins, the probe over a batch)
    val probes: Seq[(String, String, DataFrame => DataFrame)] = Seq(
      ("fluencyStoredFrom", lmDir,
        b => LlmOps.fluencyStoredFrom(LlmOps.docBigrams(b), lmDir)),
      ("keywordsStored", idfDir, b => LlmOps.keywordsStored(b, idfDir)),
      ("qualityScoreStored", qDir, b => LlmOps.qualityScoreStored(b, qDir)),
      ("incrementalDedupMinHashIndexedFrom", s"$mhDir/bands", { b =>
        val bSig = LlmOps.signaturesOf(b)
        LlmOps.incrementalDedupMinHashIndexedFrom(bSig, LlmOps.bandsOf(bSig), mhDir)
      }))
    probes.foreach { case (name, dir, probe) =>
      // the scan check is live: a non-empty batch does scan the artifact
      assert(artifactScans(probe(corpus), dir).nonEmpty,
        s"$name: a non-empty batch must scan the artifact")
      // a cached batch, so the optimizer cannot see it is empty: only the
      // pin can remove the scan (an empty LocalRelation batch would
      // propagate through the join on its own)
      val empty = docs().cache()
      val out = probe(empty)
      assert(out.collect().isEmpty, s"$name: an empty batch must probe to no rows")
      val scans = artifactScans(out, dir)
      assert(scans.isEmpty, s"$name: an empty footprint must remove the artifact " +
        s"scan, found ${scans.map(_.location.rootPaths)}")
      empty.unpersist()
    }
  }
}
