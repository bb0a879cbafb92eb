package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One module triages a CDC listener's failure: in `graft.cdc` main code a
  * backoff sleep happens only in [[graft.cdc.ListenerManager]]'s runner
  * loop and [[graft.cdc.WebhookSink]]'s post retry, and a failure's cause
  * chain is walked only by `ListenerManager`'s one bounded helper.
  */
class CdcLifecycleGuardSpec extends AnyFunSuite {
  /** `getCause` sites outside the helper, each with the reason it stays. */
  private val unwraps = Map(
    "try inflight.peek().get() catch { case e: ExecutionException => throw e.getCause }" ->
      "WebhookSink.postAll: rethrows a post's own failure out of its Future, one link, no walk")

  test("graft.cdc sleeps only in the runner loop and the post retry, and walks causes in one helper") {
    val root = Paths.get("src/main/scala/graft/cdc")
    assert(Files.isDirectory(root), s"$root not found: run from the project root")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "the scan found no main source")
    def sites(pattern: String) = {
      val re = pattern.r
      files.flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => (f, i + 1, line.trim)
      })
    }
    def owned(f: java.nio.file.Path, name: String) = f.toString.endsWith(s"graft/cdc/$name.scala")

    val sleeps = sites("""\bsleep\b""").filterNot { case (f, _, _) =>
      owned(f, "ListenerManager") || owned(f, "WebhookSink")
    }
    assert(sleeps.isEmpty, "backoff sleeps outside ListenerManager and WebhookSink:\n" +
      sleeps.map { case (f, i, l) => s"$f:$i: $l" }.mkString("\n"))

    val (helper, walks) = sites("""\bgetCause\b""").partition { case (f, _, _) =>
      owned(f, "ListenerManager")
    }
    assert(helper.size === 1, s"ListenerManager walks causes in ${helper.size} places: $helper")
    val others = walks.filterNot { case (_, _, l) => unwraps.contains(l) }
    assert(others.isEmpty, "cause-chain walks outside ListenerManager's helper:\n" +
      others.map { case (f, i, l) => s"$f:$i: $l" }.mkString("\n"))
  }
}
