package perfbench

import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The helpers the benchmark's numbers and checks rest on. */
class HelpersSpec extends AnyFunSuite {

  test("percentile interpolates between closest ranks") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) === 2.5)
    assert(math.abs(Stats.percentile((1 to 10).map(_.toDouble), 90) - 9.1) < 1e-9)
    assert(Stats.percentile(Seq(7.0), 90) === 7.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 0) === 1.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 100) === 2.0)
    assert(Stats.median(Seq(5.0, 1.0, 9.0)) === 5.0)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("maxOverlap counts intervals open at once") {
    assert(Stats.maxOverlap(Seq((0L, 10L), (5L, 15L), (12L, 20L))) === 2)
    assert(Stats.maxOverlap(Seq((0L, 5L), (5L, 10L))) === 1) // end before start
    assert(Stats.maxOverlap(Nil) === 0)
  }

  test("acks are attributed to the epoch whose interval holds them") {
    val e = IndexedSeq(Epoch(3, 100, Map("triggerExecution" -> 50L)),
      Epoch(4, 160, Map("triggerExecution" -> 40L)),
      Epoch(5, 200, Map("triggerExecution" -> 30L)))
    val d = Drain(t0Ms = 150, measured = e.drop(1), committed = e.map(x => x.batchId -> x).toMap)
    assert(d.epochAt(100).map(_.batchId) === Some(3)) // trigger start, inclusive
    assert(d.epochAt(150).map(_.batchId) === Some(3)) // commit, inclusive
    assert(d.epochAt(155) === None) // between epochs
    assert(d.epochAt(199).map(_.batchId) === Some(4))
    assert(d.epochAt(200).map(_.batchId) === Some(5)) // shared instant: the later epoch
    assert(d.epochAt(230).map(_.batchId) === Some(5))
    assert(d.epochAt(231) === None)
    assert(d.epochAt(99) === None)
    assert(Stats.attribute(IndexedSeq.empty, 5) === None)
    assert(d.windowMs === 80.0) // from the warm-up commit to the last commit
  }

  test("the window ends at the first commit past its length that closes whole cycles") {
    // epoch b runs from 1000 * b to 1000 * b + 900
    val eps = (0L to 20L).map(b => b -> Epoch(b, 1000 * b, Map("triggerExecution" -> 900L))).toMap
    assert(Workloads.windowEnd(eps, eps(2L), cycle = 1, seconds = 4).map(_.batchId) === Some(6))
    // cycles of 2 epochs counted from the warm-up's last one
    assert(Workloads.windowEnd(eps, eps(0L), cycle = 2, seconds = 4).map(_.batchId) === Some(4))
    assert(Workloads.windowEnd(eps, eps(0L), cycle = 2, seconds = 5).map(_.batchId) === Some(6))
    assert(Workloads.windowEnd(eps, eps(1L), cycle = 2, seconds = 5).map(_.batchId) === Some(7))
    assert(Workloads.windowEnd(eps, eps(0L), cycle = 2, seconds = 60) === None)
  }

  test("the failure schedule fails a payload's first attempts only") {
    val s = FailureSchedule(Map(Stats.payloadHash("a") -> 2))
    assert(s.fails(Stats.payloadHash("a"), 1))
    assert(s.fails(Stats.payloadHash("a"), 2))
    assert(!s.fails(Stats.payloadHash("a"), 3))
    assert(!s.fails(Stats.payloadHash("b"), 1))
  }

  test("the stub fails the same posts whatever the delivery order") {
    def statuses(order: Seq[String]): Map[String, Seq[Int]] = {
      val stub = new WebhookStub(2, 0, FailureSchedule(Map(Stats.payloadHash("x") -> 2)))
      try {
        val client = HttpClient.newHttpClient()
        order.map { body =>
          val req = HttpRequest.newBuilder(URI.create(stub.url))
            .POST(HttpRequest.BodyPublishers.ofString(body)).build()
          body -> client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode()
        }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2) }
      } finally stub.stop()
    }
    val a = statuses(Seq("x", "y", "x", "y", "x"))
    val b = statuses(Seq("y", "y", "x", "x", "x"))
    assert(a === Map("x" -> Seq(500, 500, 200), "y" -> Seq(200, 200)))
    assert(b === a)
  }

  test("the stub serves from daemon threads and records every post") {
    val stub = new WebhookStub(3, 1, FailureSchedule.none)
    try {
      val client = HttpClient.newHttpClient()
      (1 to 4).foreach { i =>
        client.send(HttpRequest.newBuilder(URI.create(stub.url))
          .POST(HttpRequest.BodyPublishers.ofString(s"p$i")).build(),
          HttpResponse.BodyHandlers.discarding())
      }
      val workers = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .filter(_.getName == "webhook-stub")
      assert(workers.nonEmpty && workers.forall(_.isDaemon))
      assert(workers.length <= 3)
      val posts = stub.posts
      assert(posts.map(_.body).toSet === (1 to 4).map(i => s"p$i").toSet)
      assert(posts.forall(p => p.ok && p.attempt == 1 && p.endNs - p.arriveNs >= 1000000L))
    } finally stub.stop()
  }

  test("the event generator is a pure function of the seed") {
    val a = Generator.eventFile(7, 3, 200, 15)
    assert(a === Generator.eventFile(7, 3, 200, 15))
    assert(a !== Generator.eventFile(8, 3, 200, 15))
    assert(a.map(_.eventId) === (600L until 800L))
    val cutoffNs = graft.cdc.CdcView.SinceCutoffMs * 1000000L
    assert(a.count(_.tsNanos >= cutoffNs) === 15)
    assert(Generator.eventFile(7, 0, 50, 50).forall(_.tsNanos >= cutoffNs))
    assert(a.forall(e => Generator.fileOfEvent(e.eventId, 200) == 3))
    // a backlog file's few current events sit at the same id residues in every file
    def residues(seed: Long, file: Int) = Generator.eventFile(seed, file, 20000, 10)
      .filter(_.tsNanos >= cutoffNs).map(_.eventId % Generator.IdPeriod).toSet
    assert(residues(7, 0).size === 10)
    assert(residues(7, 0) === residues(7, 1))
    assert(residues(7, 0) === residues(8, 5))
  }

  test("the ingest generator is a pure function of the seed, with near-copies of earlier docs") {
    assert(Generator.copiesPer(57) === 3) // 5% of each file, as in the documents table
    val a = Generator.ingestInputs(5, half = 40, fresh = 10, copies = 3)
    assert(a === Generator.ingestInputs(5, half = 40, fresh = 10, copies = 3))
    assert(a !== Generator.ingestInputs(6, half = 40, fresh = 10, copies = 3))
    assert(a.index.forall(d => (10 to 99).contains(d.text.split(" ").length)))
    assert(a.index.size === 40 && a.files.size === 4 && a.files.forall(_.size === 13))
    val all = a.index ++ a.files.flatten
    assert(all.map(_.docId).distinct.size === all.size)
    a.files.zipWithIndex.foreach { case (f, i) =>
      val earlier = a.index ++ a.files.take(i).flatten.filter(_.docId < Generator.CopyIdBase)
      f.filter(_.docId >= Generator.CopyIdBase).foreach { c =>
        val best = earlier.map(e => IngestWorkload.jaccard(
          IngestWorkload.trigrams(c.text), IngestWorkload.trigrams(e.text))).max
        assert(best >= 0.88, s"copy ${c.docId} is not near any earlier doc")
      }
    }
  }

  test("the flaky schedule: one seeded first-attempt failure per block, one exhausted payload") {
    val exp = (0 until 18).map(f => f -> (0 until 6).map(i => s"f$f-p$i")).toMap
    val s = CdcWorkload.flaky.flakySchedule(11, exp)
    assert(s === CdcWorkload.flaky.flakySchedule(11, exp))
    val chosen = CdcWorkload.ChosenBatch
    assert(s.failFirst(Stats.payloadHash(s"f$chosen-p3")) === 3)
    (0 until 6).foreach { block =>
      val files = (block * 3 until block * 3 + 3).filter(_ != chosen)
      val once = files.filter(f => s.failFirst.get(Stats.payloadHash(s"f$f-p0")).contains(1))
      assert(once.size <= 1)
    }
    assert(s.failFirst.values.count(_ == 1) >= 2)
  }
}
