package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The live media ingest loop end-to-end: micro-batches of binary
  * payloads probe the stored payload-simhash index, survivors land in
  * the epoch-partitioned media corpus AND the index, so a re-encode
  * arriving in a LATER micro-batch drops against a survivor admitted
  * earlier — and every crash window replays into either a clean
  * re-admit or a total self-cancel, never data loss.
  */
class StreamingMediaIngestSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private def mediaOf(rows: (Long, String)*) = Multimodal.media(docs(rows: _*))

  private def mk(seed: String) = (1 to 30).map(i => s"$seed$i").mkString(" ")

  /** One-byte re-encode (the [[Multimodal.payloadDupCorpus]] near
    * class): payload = UTF-8(text), so overwriting char 11 changes
    * exactly one byte — within the gate's Hamming budget.
    */
  private def nearOf(t: String) = t.substring(0, 10) + "x" + t.substring(11)

  private def writeSlice(src: String, name: String,
      d: org.apache.spark.sql.DataFrame, ts: Long): Unit = {
    val tmp = s"$src/_$name"
    d.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(src, s"$name.parquet")
    Files.move(part.toPath, dst.toPath)
    dst.setLastModified(ts)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("streamed media gate: per-batch probe, survivor append, cross-batch drop, in-loop compaction") {
    val idx = Files.createTempDirectory("graft-smi-idx").toString
    val src = Files.createTempDirectory("graft-smi-src").toString
    val out = Files.createTempDirectory("graft-smi-out").toString
    val ckp = Files.createTempDirectory("graft-smi-ckp").toString

    val base = mediaOf(1L -> mk("alpha"), 2L -> mk("beta"))
    Multimodal.buildPayloadIndex(base, idx)

    // slice 1: an exact byte copy of BASE payload 1 (drops) + a novel one
    // slice 2: a one-byte re-encode of slice-1's SURVIVOR (drops only if
    //          the loop appended it) + a novel one
    val t0 = System.currentTimeMillis() - 60000
    writeSlice(src, "s1",
      mediaOf(100L -> mk("alpha"), 101L -> mk("delta")), t0)
    writeSlice(src, "s2",
      mediaOf(200L -> nearOf(mk("delta")), 201L -> mk("omega")), t0 + 30000)

    StreamingMediaIngest.start(spark, src, idx, out, ckp, compactEvery = 2)
      .awaitTermination()

    val admitted = spark.read.parquet(out)
    assert(admitted.columns.toSet === base.columns.toSet + "epoch",
      "admitted corpus keeps the full media schema plus the epoch key")
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(101L, 201L),
      "exact copy and cross-batch re-encode drop; novel payloads admitted")
    // index followed the corpus: 2 base + 2 admitted payloads, 4 chunk
    // rows each, compacted (epoch 1 ran the in-loop fold)
    val chunks = spark.read.parquet(s"$idx/chunks")
    assert(chunks.count() === 4L * Multimodal.PayloadSimChunks)
    assert(chunks.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 101L, 201L))
  }

  test("media crash replay: corpus effectively-once, index self-cancels, partial append heals at compaction") {
    val idx = Files.createTempDirectory("graft-smi2-idx").toString
    val src = Files.createTempDirectory("graft-smi2-src").toString
    val out = Files.createTempDirectory("graft-smi2-out").toString
    val ckp = Files.createTempDirectory("graft-smi2-ckp").toString
    Multimodal.buildPayloadIndex(mediaOf(1L -> mk("alpha")), idx)
    val t0 = System.currentTimeMillis() - 60000
    writeSlice(src, "s1", mediaOf(100L -> mk("delta")), t0)
    writeSlice(src, "s2", mediaOf(200L -> mk("omega")), t0 + 30000)

    // run 1: epoch 0 completes BOTH writes (corpus + index), then dies
    // before the commit
    @volatile var failedOnce = false
    val q1 = StreamingMediaIngest.start(spark, src, idx, out, ckp,
      epochHook = { e =>
        if (e == 0 && !failedOnce) { failedOnce = true; sys.error("node lost") }
      })
    intercept[Exception] { q1.awaitTermination() }
    assert(failedOnce, "failure was injected after the epoch's writes")
    // the index already holds the doomed epoch's append
    assert(spark.read.parquet(s"$idx/chunks").count()
      === 2L * Multimodal.PayloadSimChunks,
      "base + the uncommitted epoch's survivor")

    // run 2: same checkpoint — epoch 0 replays (and SELF-CANCELS against
    // its own committed chunks), then epoch 1 runs
    StreamingMediaIngest.start(spark, src, idx, out, ckp).awaitTermination()
    val admitted = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toList
    assert(admitted.sorted === List(100L, 200L), s"no duplicates, got $admitted")
    val chunks = spark.read.parquet(s"$idx/chunks")
    assert(chunks.count() === 3L * Multimodal.PayloadSimChunks,
      "replayed epoch must not re-append its survivor")
    assert(chunks.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      === Set(1L, 100L, 200L))

    // a PARTIAL append (the one window that can duplicate chunk rows) is
    // gate-harmless and compaction heals it
    Multimodal.appendPayloadIndex(mediaOf(100L -> mk("delta")), idx)
    assert(spark.read.parquet(s"$idx/chunks").count()
      === 4L * Multimodal.PayloadSimChunks)
    val gate = Multimodal.incrementalPayloadDedupIndexed(
      mediaOf(300L -> nearOf(mk("delta")), 400L -> mk("zeta")), idx)
      .collect().map(_.getLong(0)).toSet
    assert(gate === Set(400L), "duplicate chunk rows must not change the gate")
    Multimodal.compactPayloadIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/chunks").count()
      === 3L * Multimodal.PayloadSimChunks,
      "dedupRows collapsed the duplicate append")

    // a media GC that died between its renames leaves `out` absent and
    // the old corpus stepped aside: the restarted loop rolls it back
    // before committing its next epoch, so no earlier epoch is lost
    Files.move(java.nio.file.Paths.get(out),
      java.nio.file.Paths.get(out + ".pre-compaction"))
    writeSlice(src, "s3", mediaOf(500L -> mk("kappa")), t0 + 45000)
    StreamingMediaIngest.start(spark, src, idx, out, ckp).awaitTermination()
    assert(Multimodal.readMediaAsOf(spark, out, 2L).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(100L, 200L, 500L))
  }
}
