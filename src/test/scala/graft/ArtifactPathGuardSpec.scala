package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Stored-artifact paths may be URIs, which `java.io.File` and
  * `java.nio.file` read as missing relative files: the LLM operators and
  * compaction reach artifact files only through [[graft.fs.ArtifactFs]].
  */
class ArtifactPathGuardSpec extends AnyFunSuite {
  private val scanned = Seq("src/main/scala/graft/llm", "src/main/scala/graft/cdc/Compaction.scala")
  // (file name, enclosing def) pairs that may use a local-file API
  private val allowed = Set(
    // a JVM-local temp directory for in-process index builds, not an
    // artifact path a caller passes
    ("LlmQueries.scala", "tempIndexDir"))

  test("LLM operators and compaction touch artifact files only through ArtifactFs") {
    val files = scanned.map(Paths.get(_)).flatMap { p =>
      assert(Files.exists(p), s"$p not found: run from the project root")
      Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    val api = "java\\.io\\.File|java\\.nio\\.file|FileUtils".r
    val defName = "\\bdef\\s+(\\w+)".r
    val found = files.flatMap { f =>
      var enclosing = ""
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        defName.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
        val code = line.trim
        val comment = code.startsWith("*") || code.startsWith("/*") || code.startsWith("//")
        if (!comment && api.findFirstIn(line).nonEmpty)
          Some((f.getFileName.toString, enclosing, s"$f:${i + 1}: $code"))
        else None
      }
    }
    assert(found.exists(h => allowed((h._1, h._2))), "the scan no longer sees the allowed temp-dir use")
    val bad = found.filterNot(h => allowed((h._1, h._2))).map(_._3)
    assert(bad.isEmpty, s"local-file API on an artifact path:\n${bad.mkString("\n")}")
  }
}
