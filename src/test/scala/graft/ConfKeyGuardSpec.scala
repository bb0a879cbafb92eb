package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Main code reads no `spark.graft.*` key outside a short allow-list of
  * deployment settings: a measured A/B switch is settled by deleting its
  * losing branch, not by shipping it behind a conf.
  */
class ConfKeyGuardSpec extends AnyFunSuite {
  private val allowed = Set(
    // reliable checkpoints for pins and fixpoint loops on a cluster
    "spark.graft.cc.checkpointDir",
    // bypasses the stored-relation memo, the workaround for its stale
    // fingerprint on URI-form paths; leaves with the filesystem-layer fix
    // (ROADMAP.md open item 1)
    "spark.graft.storedRelCache")

  test("main code reads no spark.graft.* key outside the allow-list") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found: run from the project root")
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]*)".r
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.flatMap {
        case (line, i) => key.findAllMatchIn(line).map(m => (s"$f:${i + 1}", m.group(1)))
      })
    assert(found.nonEmpty, "the scan found no spark.graft.* key at all")
    val bad = found.filterNot { case (_, k) => allowed(k) }
    assert(bad.isEmpty, s"spark.graft.* keys outside the allow-list:\n${bad.mkString("\n")}")
  }
}
