package graft.fs

import java.io.{FileNotFoundException, IOException}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way main code lists, fingerprints, swaps and marks the files of
  * a stored artifact (delivery logs, indexes, models, delta corpora).
  * Artifact paths may be URIs (`file:`, `hdfs://`, `s3a://`), so every
  * call resolves the path's Hadoop `FileSystem` under the session's
  * Hadoop conf, as `spark.read.parquet` does for the same path.
  *
  * Listings read only `getPath`, `getLen`, `getModificationTime` and
  * `isDirectory`, through `listStatus`. Without native libhadoop, Hadoop's
  * local filesystem answers `getPermission`/`getOwner` by forking `ls -ld`
  * per file, and `listFiles` builds each `LocatedFileStatus` from those.
  */
private[graft] object ArtifactFs {

  private def on[T](spark: SparkSession, path: String)(f: (FileSystem, Path) => T): T = {
    val p = new Path(path)
    f(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Every file under `path` in name order: `path` itself if it is a
    * file, nothing if it is missing.
    */
  def files(spark: SparkSession, path: String): Seq[FileStatus] = on(spark, path) { (fs, root) =>
    // a path deleted mid-walk lists as empty rather than failing a memo
    def ls(p: Path): Seq[FileStatus] =
      (try fs.listStatus(p) catch { case _: FileNotFoundException => Array.empty[FileStatus] })
        .sortBy(_.getPath.getName).toSeq
        .flatMap(s => if (s.isDirectory) ls(s.getPath) else Seq(s))
    ls(root)
  }

  /** Cheap fingerprint of the files under `paths`: every file's
    * path+size+mtime in name order, ~one stat per file. An append, a
    * compaction or a swap changes it.
    */
  def fingerprint(spark: SparkSession, paths: String*): Int =
    paths.flatMap(files(spark, _))
      .map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}").mkString("|").hashCode

  def exists(spark: SparkSession, path: String): Boolean = on(spark, path)(_.exists(_))

  /** Moves `src` to `dst`, which must not exist. Hadoop's `rename` reports
    * failure by returning false; a swap that silently failed loses data.
    */
  def rename(spark: SparkSession, src: String, dst: String): Unit = on(spark, src) { (fs, s) =>
    if (!fs.rename(s, new Path(dst))) throw new IOException(s"could not rename $src to $dst")
  }

  /** Deletes `path` recursively; a missing path is not an error. */
  def delete(spark: SparkSession, path: String): Unit = on(spark, path) { (fs, p) =>
    if (!fs.delete(p, true) && fs.exists(p)) throw new IOException(s"could not delete $path")
  }

  /** Creates the empty marker file `path` unless it exists. */
  def mark(spark: SparkSession, path: String): Unit = on(spark, path)(_.createNewFile(_): Unit)
}
