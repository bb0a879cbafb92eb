package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** Contract of the stored-artifact resolved-relation memo
  * ([[LlmOps.readStored]]): the resolution is reused while the artifact
  * is byte-identical, and ANY file-level change (append, rewrite,
  * atomic swap) mints a new key — a probe can never be served a stale
  * relation that misses rows a maintenance write added. The memo is
  * metadata-only: scans re-read the parquet bytes every execution, so
  * rows are asserted, not plan identity.
  */
class StoredRelCacheSpec extends SparkSpec {
  import spark.implicits._

  test("unchanged artifact resolves once; an append is visible immediately") {
    // a plain path and the same artifact addressed as a `file:` URI, the
    // form a data-lake deployment passes
    for (uri <- Seq[String => String](identity, "file:" + _)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-relcache").toString
      val t = uri(s"$dir/t")
      try {
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
          .coalesce(1).write.mode("overwrite").parquet(t)
        val r1 = LlmOps.readStored(spark, t)
        val r2 = LlmOps.readStored(spark, t)
        // same resolved relation object while the files are unchanged —
        // the memo's whole point (no re-list, no re-infer)
        assert(r1 eq r2, s"unchanged artifact $t must reuse the resolved relation")
        assert(r1.count() === 2L)
        // maintenance append: new file lands in the same directory
        Seq((3L, "c")).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(t)
        val r3 = LlmOps.readStored(spark, t)
        assert(r3.count() === 3L,
          s"append to $t must invalidate the memo — a stale relation misses rows")
        // full rewrite (the swapDir regime): fresh key again
        Seq((9L, "z")).toDF("id", "v")
          .coalesce(1).write.mode("overwrite").parquet(t)
        assert(LlmOps.readStored(spark, t)
          .select(sum(col("id"))).head.getLong(0) === 9L)
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("memo hits fingerprint the artifact without starting a process") {
    // Hadoop's local filesystem, without native libhadoop, forks `ls -ld`
    // for a listed file's permission or owner (a LocatedFileStatus reads
    // both): a fingerprint listing that way would fork once per file on
    // every probe
    val dir = java.nio.file.Files.createTempDirectory("graft-relcache-jfr").toString
    val dump = java.nio.file.Files.createTempFile("graft-relcache", ".jfr")
    try {
      spark.range(0, 200, 1, 20).toDF("id").write.parquet(s"$dir/t")
      assert(LlmOps.readStored(spark, s"$dir/t").count() === 200L)
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try {
        // control: the recording sees a process this thread starts
        new ProcessBuilder("true").start().waitFor()
        (1 to 5).foreach(_ => LlmOps.readStored(spark, s"$dir/t"))
      } finally { rec.stop(); rec.dump(dump); rec.close() }
      val here = Thread.currentThread().getName
      val starts = RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => Option(e.getThread).exists(_.getJavaName == here))
      assert(starts.size === 1, "processes started by readStored: " +
        starts.drop(1).take(3).map(_.getString("command")).mkString("; "))
    } finally {
      java.nio.file.Files.deleteIfExists(dump)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
