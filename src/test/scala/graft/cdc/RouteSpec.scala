package graft.cdc

import graft.SparkSpec
import graft.cdc.ops.Route
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.Try

/** E1/F1/F2/F3 dataflow semantics vs the reference's hot loop
  * (`app/services/sf_pubsub.py:602-789`).
  */
class RouteSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, Seq("r1", "r2", "r3"), 2000L, "true"),
    (2L, Seq.empty[String],     2000L, "true"),
    (3L, Seq("r4"),             500L,  "true"),
    (4L, Seq("r5", "r6"),       2000L, "no")
  ).toDF("event_id", "record_ids", "commit_ms", "flash_raw")

  test("F3 empty-recordIds events are dropped") {
    val ids = base.transform(Route.nonEmptyIds).select("event_id")
      .as[Long].collect().toSet
    assert(ids === Set(1L, 3L, 4L))
  }

  test("F2 since-filter drops old rows but keeps null commit_ms") {
    val df = Seq((1L, Some(2000L)), (2L, Some(500L)), (3L, Option.empty[Long]))
      .toDF("event_id", "commit_ms")
    val kept = df.transform(Route.sinceFilter(1000L)).select("event_id")
      .as[Long].collect().toSet
    assert(kept === Set(1L, 3L))
  }

  test("E1 fan-out: one row per recordId with 0-based index") {
    val out = base.transform(Route.nonEmptyIds).transform(Route.fanOut)
      .select("event_id", "idx", "record_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(out === Set((1L, 0, "r1"), (1L, 1, "r2"), (1L, 2, "r3"),
      (3L, 0, "r4"), (4L, 0, "r5"), (4L, 1, "r6")))
  }

  test("E1 positional alignment: list indexed by idx, out-of-range → null") {
    val df = Seq((1L, Seq("r1", "r2", "r3"), Seq("true", "false")))
      .toDF("event_id", "record_ids", "flash_list")
    val out = df.transform(Route.fanOut)
      .select(col("idx"), Route.alignedFlash(col("flash_list"), col("idx")).as("f"))
      .orderBy("idx").collect()
    assert(out(0).getString(1) === "true")
    assert(out(1).getString(1) === "false")
    assert(out(2).isNullAt(1)) // list shorter than recordIds → null
  }

  test("F1 flash gate keeps exactly-true rows only") {
    val kept = base.transform(Route.flashGate).select("event_id")
      .as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L)) // event 4 has flash 'no'
  }

  test("observe() route metrics count the reference's warn conditions") {
    val cdc = Seq(
      (1L, Seq("r1"), 2000L, "true"),   // clean
      (2L, Seq.empty[String], 2000L, "true"),  // empty ids (F3 skip)
      (3L, Seq("r3"), 500L, "true"),    // since-dropped (F2)
      (4L, Seq("r4"), 2000L, "maybe"),  // unparseable flash (P4 warn)
      (5L, Seq("r5"), 2000L, null.asInstanceOf[String]) // null flash: NOT unparseable
    ).toDF("event_id", "record_ids", "commit_raw", "flash_raw")
      .withColumn("entity", lit("Account"))
      .withColumn("change_type", lit("UPDATE"))
      .withColumn("subscription_topic", lit("/data/AccountChangeEvent"))
      .withColumn("instance_url", lit("https://i.example.com"))
    val (observed, obs) = Pipeline.observeRoute(cdc, cutoffMs = 1000L)
    Pipeline.deliveries(observed, cutoffMs = 1000L).count() // the action
    val m = obs.get
    assert(m("events_seen") === 5L)
    assert(m("unparseable_flash") === 1L) // 'maybe' only; null is absent, not bad
    assert(m("empty_record_ids") === 1L)
    assert(m("since_dropped") === 1L)
  }

  test("full pipeline: gate composes, cardinality = surviving recordIds") {
    val out = Pipeline.deliveries(base
      .withColumn("commit_raw", col("commit_ms"))
      .withColumn("entity", lit("Account"))
      .withColumn("change_type", lit("UPDATE"))
      .withColumn("subscription_topic", lit("/data/AccountChangeEvent"))
      .withColumn("instance_url", lit("https://i.example.com")), cutoffMs = 1000L)
    // events: 1 passes (3 ids), 2 empty, 3 old (commit 500 → ×1000 = 500000 ≥ 1000 OK...
    // commit_raw 500 is 'small passthrough' → 500 < 1000 → dropped), 4 flash=no
    assert(out.count() === 3L)
    assert(out.select("id").as[String].collect().toSet === Set("r1", "r2", "r3"))
  }

  test("CdcView record_ids equal the transform(sequence) lambda form, overflow included, ANSI on and off") {
    // The lambda form the view used before: the reference for every id.
    val eid = col("event_id")
    val lambdaIds = when(eid % 4 > 0,
        transform(sequence(lit(0L), eid % 4 - 1), i => concat(lit("R"), (eid * 4 + i).cast("string"))))
      .otherwise(array().cast("array<string>"))
    val q = Long.MaxValue / 4
    val ids: Seq[java.lang.Long] = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 1001L, 1002L, 1003L,
        -1L, -2L, -3L, -4L, -5L, -7L, q - 3, q - 2, q - 1, q, q + 1, q + 2, q + 3,
        -q, -q - 1, Long.MaxValue, Long.MinValue).map(Long.box) :+ null
    // one event through an RDD, so the view runs its generated code rather
    // than a local relation the optimizer folds
    def eval(id: java.lang.Long)(form: DataFrame => DataFrame): Try[Seq[String]] = {
      val events = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(id, 1704412800000000000L, 7L, "Account"))), StructType(Streaming.eventsSchema.take(4)))
      Try(form(events).collect().head.getSeq[String](0))
    }
    val before = spark.conf.get("spark.sql.ansi.enabled")
    try for (ansi <- Seq(true, false)) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val results = ids.map { id =>
        val view = eval(id)(CdcView.fromEvents(_).select("record_ids"))
        val lambda = eval(id)(_.select(lambdaIds))
        assert(view.toOption === lambda.toOption, s"event_id $id, ansi $ansi: $view vs $lambda")
        assert(view.isFailure === lambda.isFailure, s"event_id $id, ansi $ansi")
        id -> view
      }.toMap
      // fixture: each id count, the empty list and (under ANSI only) the overflow all occur
      assert(results(3L).get === Seq("R12", "R13", "R14"))
      assert(results(q).get.size === 3 && results(-5L).get.isEmpty && results(null).get.isEmpty)
      assert(results(q + 1).get.isEmpty) // residue 0: no id computed, so no overflow
      assert(results(q + 2).isFailure === ansi)
      if (ansi) assert(results(q + 2).failed.get.getMessage.contains("overflow"))
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
  }
}
