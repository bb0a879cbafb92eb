package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The custom DSv2 replay-log source: credit batching, replay presets,
  * checkpointed resume from a committed replay id, and composition with
  * the CDC route transforms.
  */
class ReplayLogSourceSpec extends SparkSpec {

  private def writeLog(n: Int): String = {
    val f = Files.createTempFile("graft-replaylog", ".jsonl")
    val lines = (0 until n).map { i =>
      val ids = (0 until i % 3).map(j => s""""R$i-$j"""").mkString(",")
      s"""{"entity":"Account","change_type":"UPDATE","record_ids":[$ids],"commit_raw":${1704067200L + i},"flash_raw":"${if (i % 2 == 0) "true" else "no"}"}"""
    }
    Files.write(f, lines.mkString("\n").getBytes)
    f.toString
  }

  private def readStream(log: String, opts: Map[String, String] = Map.empty): DataFrame =
    opts.foldLeft(spark.readStream.format(classOf[ReplayLogSourceProvider].getName)
      .option("path", log))( { case (r, (k, v)) => r.option(k, v) }).load()

  test("batch read returns every event with replay ids in order") {
    val log = writeLog(10)
    val df = spark.read.format(classOf[ReplayLogSourceProvider].getName)
      .option("path", log).load()
    assert(df.count() === 10L)
    assert(df.select("replay_id").collect().map(_.getLong(0)).sorted.toSeq === (0L until 10L))
    assert(df.filter(col("flash_raw") === "true").count() === 5L)
  }

  test("batch replay_id range predicates push into the scan: fewer partitions, exact rows") {
    val log = writeLog(10)
    def read() = spark.read.format(classOf[ReplayLogSourceProvider].getName)
      .option("path", log).load()

    // range [8,10): 2 rows over ≤2 partitions (full scan plans 4)
    val tail = read().filter(col("replay_id") >= 8)
    assert(tail.select("replay_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(8L, 9L))
    assert(tail.rdd.getNumPartitions <= 2)
    assert(read().rdd.getNumPartitions === 4)

    // equality collapses to a single-line range; combined non-pushable
    // predicates still apply post-scan
    val one = read().filter(col("replay_id") === 5 && col("flash_raw") === "no")
    assert(one.count() === 1L)
    assert(one.rdd.getNumPartitions === 1)
    assert(read().filter(col("replay_id") === 4 && col("flash_raw") === "no").count() === 0L)

    // unsatisfiable range plans zero partitions — nothing is read at all
    val none = read().filter(col("replay_id") > 5 && col("replay_id") < 3)
    assert(none.rdd.getNumPartitions === 0)
    assert(none.count() === 0L)

    // the pushed range is visible in the scan description
    val desc = tail.queryExecution.executedPlan.toString
    assert(desc.contains("replay") && desc.contains("[8,"), desc.take(600))
  }

  test("column pruning reaches the scan: a 2-column projection decodes 2 fields") {
    val log = writeLog(6)
    val df = spark.read.format(classOf[ReplayLogSourceProvider].getName)
      .option("path", log).load()
      .select("replay_id", "entity")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
      (0L until 6L).map(_ -> "Account"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=[replay_id,entity]"), plan.take(600))
    assert(!plan.contains("cols=[replay_id,entity,change_type"), plan.take(600))
  }

  test("credit-based flow control: each micro-batch admits at most maxEventsPerTrigger") {
    val log = writeLog(10)
    val sizes = mutable.ArrayBuffer.empty[Long]
    val q = readStream(log, Map("maxEventsPerTrigger" -> "3"))
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => sizes += b.count(); () }
      .start()
    q.awaitTermination()
    assert(sizes.sum === 10L)
    assert(sizes.forall(_ <= 3L), s"credit violated: $sizes")
    assert(sizes.length >= 4) // 3+3+3+1
  }

  test("replay presets: custom replay id starts mid-log; latest starts empty") {
    val log = writeLog(8)
    val got = mutable.ArrayBuffer.empty[Long]
    val q = readStream(log, Map("startingReplay" -> "5"))
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= b.select("replay_id").collect().map(_.getLong(0)); ()
      }.start()
    q.awaitTermination()
    assert(got.sorted.toSeq === Seq(5L, 6L, 7L))
  }

  test("edge: replay id past the end of the log yields empty batches, no crash") {
    val log = writeLog(4)
    var rows = 0L
    val q = readStream(log, Map("startingReplay" -> "99"))
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => rows += b.count(); () }
      .start()
    q.awaitTermination()
    assert(rows === 0L)
  }

  test("edge: empty log file reads as empty, batch and stream") {
    val log = java.nio.file.Files.createTempFile("graft-empty", ".jsonl").toString
    assert(spark.read.format(classOf[ReplayLogSourceProvider].getName)
      .option("path", log).load().count() === 0L)
  }

  test("checkpointed resume: restart continues from the committed replay id") {
    val log = writeLog(6)
    val ckp = Files.createTempDirectory("graft-replay-ckp").toString
    val first = mutable.ArrayBuffer.empty[Long]
    @volatile var fail = true
    // run 1: deliver batch 0, then crash before batch 1 commits
    val q1 = readStream(log, Map("maxEventsPerTrigger" -> "2"))
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckp)
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        if (epoch >= 1 && fail) { fail = false; sys.error("sink down") }
        first ++= b.select("replay_id").collect().map(_.getLong(0)); ()
      }.start()
    intercept[Exception] { q1.awaitTermination() }
    assert(first.sorted.toSeq === Seq(0L, 1L))
    // run 2: resumes at replay 2 — events 0/1 are NOT re-delivered
    val second = mutable.ArrayBuffer.empty[Long]
    val q2 = readStream(log, Map("maxEventsPerTrigger" -> "2"))
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckp)
      .foreachBatch { (b: DataFrame, _: Long) =>
        second ++= b.select("replay_id").collect().map(_.getLong(0)); ()
      }.start()
    q2.awaitTermination()
    assert(second.sorted.toSeq === Seq(2L, 3L, 4L, 5L))
  }

  test("large log: partition readers seek to their slice instead of re-reading the prefix") {
    val log = writeLog(5000)
    val fileLen = new java.io.File(log).length()
    val parts = ReplayLogStream.splitRange(log, 4000L, 5000L, 2)
      .map(_.asInstanceOf[ReplayLogPartition])
    // the tail slice's reader starts at the stride checkpoint at/below line
    // 4000 (= line 3072), deep into the file — bounded skip, not O(file)
    assert(parts.head.seekLine === 3072L)
    assert(parts.head.seekByte > fileLen / 2,
      s"expected a deep seek, got byte ${parts.head.seekByte} of $fileLen")
    assert(parts.forall(p => p.start - p.seekLine < ReplayLogIndex.Stride + 1000))
    // and the seeked readers produce exactly the right rows
    val df = spark.read.format(classOf[ReplayLogSourceProvider].getName)
      .option("path", log).load()
    assert(df.count() === 5000L)
    assert(df.filter(col("replay_id") >= 4000).count() === 1000L)
    val sample = df.filter(col("replay_id") === 4999).collect()(0)
    assert(sample.getAs[Long]("commit_raw") === 1704067200L + 4999)
  }

  test("index is incremental: appends extend the count without a rescan of old bytes") {
    val log = writeLog(10)
    assert(ReplayLogIndex.lines(log) === 10L)
    val more = (10 until 15).map(i =>
      s"""{"entity":"Account","change_type":"UPDATE","record_ids":[],"commit_raw":$i,"flash_raw":"no"}""")
    Files.write(Paths.get(log), ("\n" + more.mkString("\n")).getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    assert(ReplayLogIndex.lines(log) === 15L)
    assert(spark.read.format(classOf[ReplayLogSourceProvider].getName)
      .option("path", log).load().count() === 15L)
  }

  test("validateReplay: a replay id past the end fails subscription with INVALID_ARGUMENT") {
    val log = writeLog(4)
    val q = readStream(log, Map("startingReplay" -> "99", "validateReplay" -> "true"))
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    val e = intercept[Exception] { q.awaitTermination() }
    assert(graft.cdc.ListenerManager.isInvalidReplay(e),
      s"expected the invalid-replay shape, got: ${e.getMessage}")
  }

  test("composes with the CDC route transforms end-to-end") {
    import graft.cdc.ops.Route
    val log = writeLog(12)
    val out = mutable.ArrayBuffer.empty[String]
    val q = readStream(log)
      .transform(Route.withCommitMs)
      .transform(Route.sinceFilter(0L))
      .transform(Route.nonEmptyIds)
      .transform(Route.fanOut)
      .transform(Route.flashGate)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out ++= b.select("record_id").collect().map(_.getString(0)); ()
      }.start()
    q.awaitTermination()
    // flash=true on even replay ids; record count = replay % 3
    val expected = (0 until 12).filter(i => i % 2 == 0 && i % 3 > 0)
      .flatMap(i => (0 until i % 3).map(j => s"R$i-$j"))
    assert(out.sorted.toSeq === expected.sorted)
  }
}
