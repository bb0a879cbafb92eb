package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Main code registers no Scala UDF: a native function has one
  * implementation, its Catalyst expression, which every session resolves
  * through [[graft.plans.GraftExtensions.register]].
  */
class UdfGuardSpec extends AnyFunSuite {
  test("main code calls no udf.register") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found: run from the project root")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "the scan found no main source")
    val found = files.flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
      case (line, i) if line.contains("udf.register") => s"$f:${i + 1}: ${line.trim}"
    })
    assert(found.isEmpty, s"udf.register in main code:\n${found.mkString("\n")}")
  }
}
