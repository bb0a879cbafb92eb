package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The checkpoint manager's publish contract, the one `HDFSMetadataLog`
  * and the state store rely on, and its fallback to Spark's own choice.
  */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def dir(): NioPath = Files.createTempDirectory("graft-nio-cfm")

  private def manager(d: NioPath) =
    new NioCheckpointFileManager(new Path(d.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(d: NioPath): Set[String] =
    Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet

  test("a no-overwrite publish onto an existing file fails as a second writer and keeps the old bytes") {
    val d = dir(); val fm = manager(d); val f = new Path(d.toUri.toString, "0")
    write(fm, f, "first writer", overwrite = false)
    intercept[FileAlreadyExistsException] { write(fm, f, "second writer", overwrite = false) }
    assert(read(fm, f) === "first writer")
    assert(names(d) === Set("0"), "no temp file or checksum left behind")
  }

  test("a publish whose hard link fails names the hard-link requirement and leaves nothing behind") {
    // The link fails here because its source is gone; on a filesystem
    // without hard links it fails the same way, and the message must say
    // what the manager needs rather than only what nio refused.
    val d = dir(); val fm = manager(d)
    val out = fm.createAtomic(new Path(d.toUri.toString, "2"), overwriteIfPossible = false)
    out.write("a batch".getBytes(UTF_8))
    names(d).foreach(n => Files.delete(d.resolve(n)))
    val e = intercept[java.io.IOException] { out.close() }
    assert(!e.isInstanceOf[FileAlreadyExistsException])
    assert(e.getMessage.contains("hard links") &&
      e.getMessage.contains(classOf[NioCheckpointFileManager].getName), e.getMessage)
    assert(e.getCause.isInstanceOf[java.nio.file.NoSuchFileException], e.getCause)
    assert(names(d).isEmpty)
  }

  test("cancel leaves nothing behind") {
    val d = dir(); val fm = manager(d)
    val out = fm.createAtomic(new Path(d.toUri.toString, "1"), overwriteIfPossible = false)
    out.write("half a batch".getBytes(UTF_8))
    out.cancel()
    assert(names(d).isEmpty)
  }

  test("an overwrite of a checksummed file reads back through Spark's default manager") {
    val d = dir(); val f = new Path(d.toUri.toString, "1.delta")
    val spark = CheckpointFileManager.create(new Path(d.toUri), new Configuration())
    write(spark, f, "old state", overwrite = true)
    assert(names(d) === Set("1.delta", ".1.delta.crc"), "fixture: the default manager writes a .crc")
    write(manager(d), f, "new state, longer than the old", overwrite = true)
    assert(read(spark, f) === "new state, longer than the old")
    // the FileContext open above does not verify sums; Hadoop's
    // FileSystem open (Spark's manager where FileContext is unbound) does
    val checked = new FileSystemBasedCheckpointFileManager(new Path(d.toUri), new Configuration())
    assert(read(checked, f) === "new state, longer than the old")
  }

  test("local paths keep Spark's FileContext manager; other schemes get exactly Spark's choice") {
    val plain = new Configuration()
    val local = new Path(dir().toUri)
    assert(CheckpointFileManager.create(local, plain).getClass ===
      classOf[FileContextBasedCheckpointFileManager])
    // a bare path resolves through the default filesystem, here file:
    for (p <- Seq(local, new Path(local.toUri.getPath)))
      assert(new NioCheckpointFileManager(p, plain).delegate.isInstanceOf[NioCheckpointFileManager.Local])

    // a scheme with a FileSystem but no AbstractFileSystem binding: Spark
    // falls back from FileContext to FileSystem, and so must the manager
    val conf = new Configuration()
    conf.set("fs.graftcfm.impl", classOf[RawLocalFileSystem].getName)
    val other = new Path("graftcfm:///tmp/graft-cfm")
    val sparks = CheckpointFileManager.create(other, conf)
    assert(sparks.getClass === classOf[FileSystemBasedCheckpointFileManager])
    conf.set(NioCheckpointFileManager.Key, classOf[NioCheckpointFileManager].getName)
    val installed = CheckpointFileManager.create(other, conf)
    assert(installed.isInstanceOf[NioCheckpointFileManager], "the key installs the manager")
    assert(installed.asInstanceOf[NioCheckpointFileManager].delegate.getClass === sparks.getClass)
  }
}
