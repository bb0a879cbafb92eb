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
}
