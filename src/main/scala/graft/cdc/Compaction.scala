package graft.cdc

import graft.fs.{ArtifactFs, StoredTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Delivery-log compaction — the operational answer to the small-files
  * problem every streaming parquet sink produces: each micro-batch
  * appends its own files, and after days of 1-second epochs a 100 TB log
  * is millions of KB-sized files whose open/footer cost dominates reads.
  * Compaction rewrites the log with the same `entity` partitioning but
  * at most [[MaxRecordsPerFile]] rows per file, then swaps directories.
  *
  * The swap is rename-based (not crash-atomic): a reader racing the swap
  * can observe the old or new directory, and a crash inside the swap
  * window leaves a state that [[recoverDir]] resolves mechanically
  * (rollback to the original if the swap didn't complete, cleanup if it
  * did) — run at every compaction entry and at ingest-loop startup. The
  * transactional upgrade is a table format (Delta/Iceberg) or a metastore
  * pointer flip; this operator keeps the data layout mechanics honest
  * without those dependencies. Content is preserved row-for-row (asserted
  * in CompactionSpec); only file boundaries change.
  *
  * Where `rename` is not atomic (an object store's copy-then-delete), the
  * swap still converges when no rename is interrupted. A crash INSIDE one
  * such rename leaves a half-copied directory, which is not one of the
  * three windows [[recoverDir]] resolves: that deployment needs a table
  * format or a pointer flip.
  */
object Compaction {

  /** The row bound per file of every rewrite. */
  private val MaxRecordsPerFile: Long = 1L << 20

  /** Rewrite `dir` (an entity-partitioned delivery log) with one write
    * task per entity directory. Returns (files before, files after),
    * counting data files.
    */
  def compactDeliveryLog(spark: SparkSession, dir: String): (Long, Long) =
    compactDir(spark, dir, Seq("entity"))

  /** `dir`'s swap sibling `dir<suffix>`, named through Hadoop's `Path`,
    * which drops a trailing `/` (a `file:` URI of an existing directory
    * has one) that would put the sibling inside `dir`.
    */
  private def sibling(dir: String, suffix: String): String =
    new Path(dir).toString + suffix

  /** Recover `dir` from a compaction that crashed mid-swap — idempotent,
    * call before reading or re-compacting a directory that a possibly-
    * interrupted compaction owns. The swap is two renames with three
    * crash windows, each of which this resolves:
    *   - crash during the tmp write: `dir` intact, a partial
    *     `<dir>.compacted` left behind → delete the tmp.
    *   - crash between the renames: `dir` ABSENT, `<dir>.pre-compaction`
    *     holds the original → roll BACK (move it into place) and delete
    *     the tmp. Rolling back is always correct because compaction
    *     preserves content — re-running it later converges to the same
    *     state; rolling forward would require trusting a tmp whose write
    *     completion we can't prove here.
    *   - crash after the second rename: `dir` is the compacted output,
    *     the stale `.pre-compaction` remains → delete it (roll forward).
    */
  def recoverDir(dir: String): Unit = {
    val spark = SparkSession.active
    val pre = sibling(dir, ".pre-compaction")
    if (ArtifactFs.exists(spark, pre)) {
      if (ArtifactFs.exists(spark, dir)) ArtifactFs.delete(spark, pre)
      else ArtifactFs.rename(spark, pre, dir)
    }
    ArtifactFs.delete(spark, sibling(dir, ".compacted"))
  }

  /** Replace `dir` with freshly-built content through the rename swap:
    * run `build` against a sibling tmp path (the old directory stays
    * readable throughout), then two renames put the result in place.
    * Every crash window resolves mechanically via [[recoverDir]] (run
    * here on entry, and by any reader that owns the directory at
    * startup): a crash during the build leaves `dir` untouched, between
    * the renames rolls BACK to the original, after the second rename
    * rolls forward. Rollback is correct for any builder whose re-run
    * converges (compaction trivially; an index REBUILD too — the old
    * generation stays valid, the rebuild is just repaid later). Using
    * one swap at the PARENT level is what makes a multi-table artifact
    * (e.g. a PQ index's codebooks/ + codes/) change generation
    * atomically — swapping the tables one by one could crash into a
    * MIXED generation, which for codes encoded against a different
    * codebook reads wrong, not stale.
    */
  def swapDir(dir: String)(build: String => Unit): Unit = {
    recoverDir(dir)
    val tmp = sibling(dir, ".compacted")
    build(tmp)
    val old = sibling(dir, ".pre-compaction")
    val spark = SparkSession.active
    // create-or-replace: on a bootstrap build there is no old generation
    // to step aside (a crash before the move just leaves a tmp that
    // recoverDir deletes — re-running converges, as always)
    if (ArtifactFs.exists(spark, dir)) ArtifactFs.rename(spark, dir, old)
    ArtifactFs.rename(spark, tmp, dir)
    ArtifactFs.delete(spark, old)
  }

  /** Rewrite `dir` through [[swapDir]]: `keep` of its current rows,
    * hash-clustered on and partitioned by `parts` through the stored-table
    * writer ([[graft.fs.StoredTable.clustered]]), or coalesced to the
    * session's parallelism when `parts` is empty, at most
    * [[MaxRecordsPerFile]] rows per file. The rewrite shared by
    * compaction and the index prunes.
    */
  private[graft] def rewriteDir(spark: SparkSession, dir: String,
      parts: Seq[String])(keep: DataFrame => DataFrame): Unit =
    swapDir(dir) { tmp =>
      val rows = keep(spark.read.parquet(dir))
      StoredTable.clustered(
          if (parts.isEmpty) rows.coalesce(spark.sparkContext.defaultParallelism)
          else rows, parts)
        .mode("overwrite").option("maxRecordsPerFile", MaxRecordsPerFile)
        .parquet(tmp)
    }

  /** Generic append-log compaction: rewrite the parquet directory `dir`
    * through [[rewriteDir]], hash-clustered on and partitioned by
    * `partitionCols` (restoring the locality layout an `append`-mode
    * writer erodes — new files never co-group with old ones), then swap.
    * The same rename-based mechanics and caveats as
    * [[compactDeliveryLog]]; content preserved row-for-row, only file
    * boundaries change — unless `dedupRows` is set, which collapses EXACT
    * duplicate rows during the rewrite (only valid when the table's rows
    * are a deterministic function of their keys, so a duplicate can only
    * be a replayed append — the LSH-index tables' contract).
    *
    * Every entry first runs [[recoverDir]], so a directory orphaned by a
    * crashed earlier compaction heals on the next attempt; a long-running
    * loop that schedules compaction ([[graft.llm.StreamingIngest]]) also
    * runs recovery at startup so a probe never reads a half-swapped
    * directory.
    */
  def compactDir(spark: SparkSession, dir: String, partitionCols: Seq[String],
      dedupRows: Boolean = false): (Long, Long) = {
    recoverDir(dir)
    def dataFiles(): Long =
      ArtifactFs.files(spark, dir).count(_.getPath.getName.endsWith(".parquet")).toLong
    val before = dataFiles()
    rewriteDir(spark, dir, partitionCols)(rows => if (dedupRows) rows.distinct() else rows)
    (before, dataFiles())
  }
}
