package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Stored-artifact probes size-gate their broadcasts through one helper,
  * [[graft.llm.LlmOps.gateBroadcast]], against the shared
  * `GateBroadcastMax*` bounds: no probe takes its own bound as a
  * parameter, and none hand-rolls its own hint gate.
  */
class BroadcastGateGuardSpec extends AnyFunSuite {
  test("main code declares no per-call broadcast bound and no local hint gate") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found: run from the project root")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "the scan found no main source")
    val banned = Seq("""\bbroadcastMax""".r, """\bdef\s+hinted""".r)
    val found = files.flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
      case (line, i) if banned.exists(_.findFirstIn(line).isDefined) =>
        s"$f:${i + 1}: ${line.trim}"
    })
    assert(found.isEmpty, s"per-call broadcast gate in main code:\n${found.mkString("\n")}")
  }
}
