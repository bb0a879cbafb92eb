package graft.fs

import graft.cdc.Compaction
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions.{col, lit}

/** The on-disk layout of one stored table: its sub-directory under the
  * artifact root (empty for a table that is the root itself, the epoch
  * corpus) and its partition columns (none for a single-file table).
  * Builders, appenders, compactions, prunes, probes and startup recovery
  * take a table's path and partition columns from here, so each layout
  * is stated once. The partition layout is also the unit of probe-side
  * pruning: a probe pins the directories its batch keys land in.
  *
  * A keyed table (a model family built per language, a cell table) is
  * declared once, without its key, and written through [[keyed]]: the
  * key's directories sit above the table's own (bucket) partitions, so
  * the key of a table on disk is its partition columns less `parts`.
  */
private[graft] final case class StoredTable(dir: String, parts: String*) {

  /** This table with `key` partition columns in front of its own. */
  def keyed(key: Seq[String]): StoredTable = StoredTable(dir, key ++ parts: _*)

  /** The table's path under the artifact root `root`. */
  def at(root: String): String = if (dir.isEmpty) root else s"$root/$dir"

  /** The directory of one partition, `values` in `parts` order. */
  def partition(root: String, values: Any*): String =
    parts.zip(values).map { case (c, v) => s"/$c=$v" }.mkString(at(root), "", "")

  /** Writes `rows` as this table under `root` in `mode`: a partitioned
    * table through [[StoredTable.clustered]], a single-file table as one
    * file.
    */
  def write(rows: DataFrame, root: String, mode: String = "overwrite"): Unit =
    writeTo(rows, at(root), mode)

  /** Replaces this table under `root` with `rows` through a table-level
    * rename swap ([[Compaction.swapDir]]): the old generation serves
    * readers until the new one is in place. `rows` is derived inside the
    * swap, after its recovery step.
    */
  def swap(root: String)(rows: => DataFrame): Unit =
    Compaction.swapDir(at(root))(writeTo(rows, _, "overwrite"))

  private def writeTo(rows: DataFrame, path: String, mode: String): Unit =
    StoredTable.clustered(if (parts.isEmpty) rows.coalesce(1) else rows, parts)
      .mode(mode).parquet(path)
}

private[graft] object StoredTable {
  val Grams = StoredTable("grams", "hb")
  val Bigrams = StoredTable("bigrams", "wb")
  val Df = StoredTable("df", "tb")
  val Weights = StoredTable("w", "tb")
  val Signatures = StoredTable("signatures", "sig_bucket")
  val Bands = StoredTable("bands", "band_idx", "bk_bucket")
  val Cells = StoredTable("cells")
  /** The ANN index's cells, keyed by the caller's cell label. */
  val AnnCells = Cells.keyed(Seq("label"))
  /** The k-means index's cells, keyed by the trained cell. */
  val KmCells = Cells.keyed(Seq("cell"))
  val Codes = StoredTable("codes", "label")
  val Chunks = StoredTable("chunks", "chunk_idx", "ck_bucket")
  /** The epoch-partitioned corpus the ingest loops and the delta apply
    * commit into; the artifact root is the table.
    */
  val Corpus = StoredTable("", "epoch")

  val Cuts = StoredTable("cuts")
  val Centroids = StoredTable("centroids")
  val Codebooks = StoredTable("codebooks")
  val Merges = StoredTable("merges")

  /** The one clustered writer: rows hash-clustered on the partition
    * columns, so each directory is written by one task and its file count
    * tracks its data, not the writer's parallelism, then written
    * partitioned by them. Without partition columns the rows are written
    * as they come.
    */
  def clustered(rows: DataFrame, parts: Seq[String]): DataFrameWriter[Row] =
    if (parts.isEmpty) rows.write
    else rows.repartition(parts.map(col): _*).write.partitionBy(parts: _*)

  /** Effectively-once commit of `rows` as epoch `epoch` of the
    * [[Corpus]] at `root`: a dynamic partition overwrite, so a replayed
    * epoch replaces its own partition and touches no other (an empty
    * replay touches none). The mode is the writer's
    * `partitionOverwriteMode` option, which Spark's
    * `InsertIntoHadoopFsRelationCommand` reads ahead of the session conf,
    * so the caller's session is never changed. The rows are not
    * clustered: all of them share one partition value.
    */
  def commitEpoch(rows: DataFrame, epoch: Long, root: String): Unit =
    rows.withColumn(Corpus.parts.head, lit(epoch))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(Corpus.parts: _*).parquet(Corpus.at(root))
}

/** A stored artifact as the tables under its root. */
private[graft] final case class StoredArtifact(tables: StoredTable*) {

  /** Resolves an interrupted swap ([[Compaction.recoverDir]]) of the
    * artifact at `root`: the root first, since a parent-level rebuild
    * renames it away whole and its tables do not exist until it is back,
    * then each table (table-level builds, compactions and prunes).
    */
  def recover(root: String): Unit =
    (root +: tables.map(_.at(root))).distinct.foreach(Compaction.recoverDir)
}

private[graft] object StoredArtifact {
  import StoredTable._
  val MinHashIndex = StoredArtifact(Signatures, Bands)
  val DecontamIndex = StoredArtifact(Grams)
  val FluencyModel = StoredArtifact(Bigrams)
  val LmCuts = StoredArtifact(Cuts)
  val QualityModel = StoredArtifact(Weights)
  val AnnIndex = StoredArtifact(AnnCells)
  val PqIndex = StoredArtifact(Codebooks, Codes)
  val PayloadIndex = StoredArtifact(Chunks)
  val EpochCorpus = StoredArtifact(Corpus)
}
