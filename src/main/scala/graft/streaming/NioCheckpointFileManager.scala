package graft.streaming

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint writer: every micro-batch publishes three
  * logs (`sources/0/N`, `offsets/N`, `commits/N`) and, under stateful
  * operators, the state store's delta files, each as a temp file renamed
  * into place. Spark's local manager does that through Hadoop's
  * `RawLocalFileSystem`, which without native libhadoop forks `chmod` on
  * every create and `readlink` on every rename, for each file and its
  * `.crc` sibling: about 30 processes per epoch on the stream thread, and
  * ~40 ms per log write on a 4-vCPU VM.
  *
  * On `file` paths (bare paths included, when the default filesystem is
  * local) this manager writes the temp file with `java.nio` and publishes
  * it without a fork:
  *   - no overwrite: `Files.createLink(dst, tmp)`, which fails atomically
  *     when `dst` exists — mapped to Hadoop's `FileAlreadyExistsException`,
  *     the signal `HDFSMetadataLog` reads as a second writer — then the
  *     temp file is deleted, whether the link succeeded or not. So a local
  *     checkpoint directory must be on a filesystem with hard links (any
  *     POSIX one; not e.g. a FAT or SMB mount); a link that fails for any
  *     other reason than an existing `dst` throws an `IOException` that
  *     names this requirement;
  *   - overwrite: `Files.move(ATOMIC_MOVE)`, after deleting `dst`'s stale
  *     `.crc` (a checksummed `open` would otherwise check the new bytes
  *     against the old sum; with the `.crc` gone it reads them unchecked).
  *
  * Everything else is Spark's: on `file` paths the two rename-helper
  * methods above are the only overrides of its `FileContext` manager
  * (listing, `open`, `exists`, `delete` and `RenameBasedFSDataOutputStream`'s
  * cancel/close protocol unchanged); every other scheme gets the manager
  * Spark picks without this class installed (its FileContext → FileSystem
  * fallback for HDFS, S3, …).
  */
final class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** Spark's own choice for `path` (the factory on a conf without the
    * key), with the nio publish swapped in on `file` paths.
    */
  private[streaming] val delegate: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(NioCheckpointFileManager.Key)
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new NioCheckpointFileManager.Local(path, conf)
    else CheckpointFileManager.create(path, conf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object NioCheckpointFileManager {

  /** Spark's (internal) session key naming the checkpoint manager class. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make `spark`'s streams checkpoint through this manager. A stream
    * copies its session's conf at `start()`, so call this before each
    * `writeStream … start()`.
    */
  def install(spark: SparkSession): Unit =
    spark.conf.set(Key, classOf[NioCheckpointFileManager].getName)

  /** Spark's local manager with its two rename-helper methods on nio. */
  private[streaming] final class Local(path: Path, conf: Configuration)
      extends FileContextBasedCheckpointFileManager(path, conf) {

    private def nio(p: Path) = Paths.get(p.toUri.getPath)

    override def createTempFile(p: Path): FSDataOutputStream =
      new FSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(nio(p), StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)), null)

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val (s, d) = (nio(src), nio(dst))
      if (overwriteIfPossible) {
        Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      } else try Files.createLink(d, s) catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"Failed to rename $src to $dst: destination exists")
        case e @ (_: IOException | _: UnsupportedOperationException) =>
          throw new IOException(s"Failed to publish $dst: the checkpoint manager " +
            s"${classOf[NioCheckpointFileManager].getName} needs a local filesystem with hard " +
            s"links, and linking $src failed: $e", e)
      } finally Files.deleteIfExists(s)
    }
  }
}
