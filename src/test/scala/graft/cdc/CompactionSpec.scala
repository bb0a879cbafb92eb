package graft.cdc

import graft.SparkSpec
import org.apache.hadoop.fs.{FileUtil, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

/** Compaction rewrites the many-small-files delivery log into few files,
  * preserving rows, partitioning, and readability.
  */
class CompactionSpec extends SparkSpec {

  // a plain path, the same directory addressed as a `file:` URI (the form
  // a data-lake deployment passes) and as the URI with a trailing `/`
  // (what `java.nio.file.Path.toUri.toString` gives for a directory)
  private val uris = Seq[String => String](identity, "file:" + _, "file://" + _ + "/")

  test("compaction shrinks the file count and preserves every row") {
    for (uri <- uris) {
      val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/log"
      val log = uri(dir)
      // simulate many tiny epoch appends: 12 writes of a small slice each
      val deliveries = Pipeline.deliveries(spark, "/root/testdata/sf0.001")
      (0 until 12).foreach { i =>
        Streaming.writePartitionedLog(
          deliveries.filter(pmod(col("event_id"), lit(12)) === i), log)
      }
      val expected = spark.read.parquet(log).collect()
        .map(_.toString).sorted.toSeq

      val (before, after) = Compaction.compactDeliveryLog(spark, log)
      assert(before > after, s"expected fewer files in $log, got $before -> $after")

      val got = spark.read.parquet(log).collect().map(_.toString).sorted.toSeq
      assert(got === expected)
      // entity partitioning survives (partition pruning still works)
      val entities = spark.read.parquet(log).select("entity").distinct().count()
      assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("entity=")) ===
        entities.toInt)
    }
  }

  test("recoverDir resolves every compaction crash window") {
    import spark.implicits._
    def freshLog(): (String, Seq[String]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-recover").toString + "/log"
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .write.parquet(dir)
      (dir, spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq)
    }
    def rows(dir: String) =
      spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq

    for (uri <- uris) {
      // window 1: crash during the tmp write — partial tmp left, dir intact
      val (d1, want1) = freshLog()
      new java.io.File(d1 + ".compacted").mkdirs() // partial, unreadable
      Compaction.recoverDir(uri(d1))
      assert(!new java.io.File(d1 + ".compacted").exists(), uri(d1))
      assert(rows(d1) === want1)

      // window 2: crash between the renames — dir ABSENT, original under
      // .pre-compaction, complete tmp present → roll back
      val (d2, want2) = freshLog()
      java.nio.file.Files.move(
        java.nio.file.Paths.get(d2), java.nio.file.Paths.get(d2 + ".pre-compaction"))
      new java.io.File(d2 + ".compacted").mkdirs()
      Compaction.recoverDir(uri(d2))
      assert(rows(d2) === want2, "original content must be rolled back into place")
      assert(!new java.io.File(d2 + ".pre-compaction").exists())
      assert(!new java.io.File(d2 + ".compacted").exists())
      // a compaction after recovery converges normally
      val (b2, a2) = Compaction.compactDir(spark, uri(d2), Nil)
      assert(b2 >= a2 && rows(d2) === want2)

      // window 3: crash after the swap, before cleanup — stale
      // .pre-compaction next to the live dir → roll forward
      val (d3, want3) = freshLog()
      val pre3 = new java.io.File(d3 + ".pre-compaction")
      pre3.mkdirs()
      Compaction.recoverDir(uri(d3))
      assert(!pre3.exists())
      assert(rows(d3) === want3)

      // recovery is idempotent on a healthy directory
      Compaction.recoverDir(uri(d3))
      assert(rows(d3) === want3)
    }
  }

  test("compaction over a filesystem whose rename copies, then deletes") {
    // the object-store shape: no rename is atomic, but none is interrupted
    // here, so the swap must still converge with no sibling left behind
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcopy.impl", classOf[CopyRenameFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft-copyfs").toString + "/log"
    val log = s"graftcopy://$dir"
    (0 until 6).foreach { i =>
      Seq((i.toLong, s"v$i"), (i + 10L, s"w$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(log)
    }
    val expected = spark.read.parquet(log).collect().map(_.toString).sorted.toSeq
    val (before, after) = Compaction.compactDir(spark, log, Nil)
    assert(before === 6L && after < before, s"$before -> $after")
    assert(spark.read.parquet(log).collect().map(_.toString).sorted.toSeq === expected)
    assert(!new java.io.File(dir + ".compacted").exists())
    assert(!new java.io.File(dir + ".pre-compaction").exists())
  }
}

/** The local filesystem under the `graftcopy` scheme, with the rename of
  * an object store: copy everything, then delete the source.
  */
class CopyRenameFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftcopy:///")
  override def rename(src: Path, dst: Path): Boolean =
    FileUtil.copy(this, src, this, dst, true, getConf)
}
