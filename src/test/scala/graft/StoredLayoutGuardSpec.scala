package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Stored tables are written through one layout module,
  * [[graft.fs.StoredTable]]: its clustered writer and its epoch commit
  * are the only writers that partition a stored table or set a partition
  * overwrite mode, apart from the rewrite in [[graft.cdc.Compaction]].
  * `Window.partitionBy` is not a writer and does not count.
  */
class StoredLayoutGuardSpec extends AnyFunSuite {
  /** Writer sites outside the module, each with the reason it stays. */
  private val allowed = Map(
    """.write.partitionBy("shard").mode("overwrite").parquet(path)""" ->
      "writeTrainingShards: a sorted shard layout (pos order within each shard), not a stored table",
    """deliveries.write.mode("append").partitionBy("entity").parquet(outDir)""" ->
      "Streaming.writePartitionedLog: an unclustered CDC delivery-log append")

  test("main code partitions stored writes and sets partition overwrite only through the layout module") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found: run from the project root")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "the scan found no main source")
    val owners = Seq("graft/fs/StoredTable.scala", "graft/cdc/Compaction.scala")
    val banned = Seq("""(?<!Window)\.partitionBy\(""".r, """partitionOverwriteMode""".r)
    val found = files.filterNot(f => owners.exists(f.toString.endsWith)).flatMap(f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if banned.exists(_.findFirstIn(line).isDefined) &&
            !allowed.contains(line.trim) =>
          s"$f:${i + 1}: ${line.trim}"
      })
    assert(found.isEmpty, s"stored-table layout written outside graft.fs.StoredTable:\n${found.mkString("\n")}")
  }

  test("StoredTable declares each table directory once, and no main code keeps a per-language twin") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found: run from the project root")
    // a keyed variant derives from its one declaration (`keyed`), so a
    // directory literal appears in exactly one StoredTable(...) call
    val layout = new String(Files.readAllBytes(root.resolve("graft/fs/StoredTable.scala")))
    val dirs = """StoredTable\("([^"]*)"""".r.findAllMatchIn(layout).map(_.group(1)).toSeq
    assert(dirs.contains("bigrams") && dirs.contains("df") && dirs.contains("w"),
      s"the scan found no model-table declarations: $dirs")
    val twice = dirs.groupBy(identity).collect { case (d, ds) if ds.size > 1 => d }
    assert(twice.isEmpty, s"table directories declared more than once: ${twice.mkString(", ")}")
    // the language is a key read back from the artifact, not a second
    // code path: no identifier ends in ByLang or FullLang, and no
    // lmLangDir remains
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val twin = """\b(\w+(?:ByLang|FullLang)|lmLangDir)\b""".r
    val found = files.flatMap(f =>
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        twin.findAllMatchIn(line).map(m => s"$f:${i + 1}: ${m.group(1)}")
      })
    assert(found.isEmpty, s"per-language twins in main code:\n${found.mkString("\n")}")
  }
}
