package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The test-connection preflight: structured pass/fail per stage, no query
  * started, over good and bad configs.
  */
class ConnectionTestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val goodSrc: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ct-src").toString
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def spec(dir: String) =
    Streaming.PipelineSpec("cT", dir,
      java.nio.file.Files.createTempDirectory("graft-ct-ckp").toString)

  test("good source, no topic requested: ok, and no query was started") {
    // the `file:` URI form streams fine, so the preflight must pass it too
    for (src <- Seq(goodSrc, s"file:$goodSrc")) {
      val before = spark.streams.active.length
      val r = ConnectionTest.test(spark, spec(src))
      assert(r.ok && r.source_ok && r.topic_ok, s"$src: $r")
      assert(r.source_error.isEmpty && r.schema_id.isEmpty)
      assert(spark.streams.active.length === before) // dry run
      // the diagnostic surfaces as a one-row control-plane frame
      val df = r.toDF(spark)
      assert(df.columns.contains("source_error_class") && df.count() === 1L)
    }
  }

  test("missing source dir fails the source stage with PATH_NOT_FOUND") {
    val r = ConnectionTest.test(spark, spec("/nonexistent/graft-nowhere"))
    assert(!r.ok && !r.source_ok)
    assert(r.source_error_class === Some("PATH_NOT_FOUND"))
  }

  test("wrong-schema source fails with SCHEMA_MISMATCH naming the columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ct-bad").toString
    Seq((1L, "x")).toDF("event_id", "event_type") // ts/user_id/value/props missing
      .write.mode("overwrite").parquet(dir)
    val r = ConnectionTest.test(spark, spec(dir))
    assert(!r.ok && !r.source_ok)
    assert(r.source_error_class === Some("SCHEMA_MISMATCH"))
    assert(r.source_error.exists(m => m.contains("ts") && m.contains("user_id")))
  }

  test("topic stage: valid shape resolves schema_id from the registry") {
    val r = ConnectionTest.test(spark, spec(goodSrc),
      topicName = Some("/data/AccountChangeEvent"),
      topicSchemaIds = Map("/data/AccountChangeEvent" -> "v2"))
    assert(r.ok && r.topic_ok)
    assert(r.schema_id === Some("v2"))
  }

  test("topic stage: bad shape and unknown topic fail with the reference codes") {
    val bad = ConnectionTest.test(spark, spec(goodSrc),
      topicName = Some("/event/NotAThing__e"))
    assert(!bad.ok && bad.source_ok && !bad.topic_ok)
    assert(bad.topic_error_class === Some("INVALID_TOPIC"))

    val unknown = ConnectionTest.test(spark, spec(goodSrc),
      topicName = Some("/data/GhostChangeEvent"),
      topicSchemaIds = Map("/data/AccountChangeEvent" -> "v2"))
    assert(!unknown.ok && !unknown.topic_ok)
    assert(unknown.topic_error_class === Some("NOT_FOUND"))
  }

  test("replay-log preflight: presets and in-range ids pass, bad ids fail structurally") {
    val log = java.nio.file.Files.createTempFile("graft-ct-log", ".jsonl")
    java.nio.file.Files.write(log,
      (0 until 10).map(i => s"""{"entity":"A","change_type":"UPDATE","record_ids":["R$i"],"commit_raw":$i,"flash_raw":"true"}""")
        .mkString("\n").getBytes)
    assert(ConnectionTest.testReplayLog(log.toString).ok)
    assert(ConnectionTest.testReplayLog(log.toString, Map("startingReplay" -> "latest")).ok)
    assert(ConnectionTest.testReplayLog(log.toString, Map("startingReplay" -> "5")).ok)
    // past-end without validation: lenient clamp, passes (source semantics)
    assert(ConnectionTest.testReplayLog(log.toString, Map("startingReplay" -> "99")).ok)

    val gone = ConnectionTest.testReplayLog("/nonexistent/graft.jsonl")
    assert(!gone.ok && gone.source_error_class === Some("PATH_NOT_FOUND"))
    val garbage = ConnectionTest.testReplayLog(log.toString, Map("startingReplay" -> "pancake"))
    assert(!garbage.ok && garbage.source_error_class === Some("INVALID_ARGUMENT"))
    val expired = ConnectionTest.testReplayLog(log.toString,
      Map("startingReplay" -> "99", "validateReplay" -> "true"))
    assert(!expired.ok && expired.source_error_class === Some("INVALID_ARGUMENT"))
    assert(expired.source_error.exists(_.contains("0..10")))
    // negative id without validation: the SOURCE is lenient (initialOffset
    // only range-checks under validateReplay and otherwise clamps), so the
    // preflight must not fail a stream that would actually start —
    // the diagnostic mirrors subscribe behavior exactly
    val negative = ConnectionTest.testReplayLog(log.toString, Map("startingReplay" -> "-3"))
    assert(negative.ok, "lenient mode must accept what the source accepts")
    val negativeStrict = ConnectionTest.testReplayLog(log.toString,
      Map("startingReplay" -> "-3", "validateReplay" -> "true"))
    assert(!negativeStrict.ok &&
      negativeStrict.source_error_class === Some("INVALID_ARGUMENT"))
  }
}
