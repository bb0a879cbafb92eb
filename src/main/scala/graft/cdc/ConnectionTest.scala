package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Connection-test dry run — the reference's `POST /clients/test-connection`
  * preflight (`app/services/sf_pubsub.py:932-995`,
  * `app/routers/clients.py:60-78`): try auth, optionally GetTopic, and
  * return a structured result; "does not persist or start listeners."
  *
  * Spark analog, stage for stage:
  *   - the **auth** stage becomes source-access validation: the
  *     [[Streaming.PipelineSpec]] source directory must exist and expose a
  *     parquet schema carrying the event columns (names + types) — the
  *     checks that would otherwise fail only after a listener starts;
  *   - the **GetTopic** stage becomes topic validation: shape check
  *     (reference `validate_topic`) and, when a topic→schema-id registry is
  *     supplied, resolution of the topic's `schema_id` — the field GetTopic
  *     returns; an unknown topic fails the stage with `NOT_FOUND`, the
  *     gRPC code the reference surfaces.
  *
  * Everything is driver-side metadata work (file listing + parquet footer
  * read); no streaming query is started, matching the reference contract.
  * Overall `ok` = source ok AND (topic ok or topic not requested) —
  * reference `:993`.
  */
object ConnectionTest {

  /** The structured diagnostic row (`TestConnResult` analog). */
  case class TestConnResult(
      ok: Boolean,
      source_ok: Boolean,
      source_error_class: Option[String],
      source_error: Option[String],
      topic_ok: Boolean,
      topic_error_class: Option[String],
      topic_error: Option[String],
      schema_id: Option[String]) {
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      Seq(this).toDF()
    }
  }

  private def okResult(schemaId: Option[String] = None) =
    TestConnResult(ok = true, source_ok = true, None, None,
      topic_ok = true, None, None, schemaId)

  private def sourceFail(cls: String, msg: String) =
    TestConnResult(ok = false, source_ok = false, Some(cls), Some(msg),
      topic_ok = true, None, None, None)

  private def topicFail(cls: String, msg: String) =
    TestConnResult(ok = false, source_ok = true, None, None,
      topic_ok = false, Some(cls), Some(msg), None)

  /** Topic-name shape rule (reference `validate_topic`,
    * `app/models.py:92-97`) — scalar twin of
    * [[graft.cdc.ops.Normalize.validTopic]].
    */
  def topicShapeOk(topic: String): Boolean =
    topic != null && topic.startsWith("/data/") && topic.contains("ChangeEvent")

  /** Preflight a parquet-backed [[Streaming.PipelineSpec]]. `topicName`
    * opts into the GetTopic stage (the reference's `check_topic` flag);
    * `topicSchemaIds` is the topic → schema-id catalog the GetTopic call
    * would consult (empty = shape check only).
    */
  def test(spark: SparkSession, spec: Streaming.PipelineSpec,
      topicName: Option[String] = None,
      topicSchemaIds: Map[String, String] = Map.empty): TestConnResult = {
    // stage 1: source access (the auth analog) — each failure returns
    // immediately with the stage marked, like the reference's early returns.
    // The preflight must resolve and read the source as the pipeline does:
    // through the path's own filesystem (a `file:` or remote URI is no
    // local file), and under the same session conf — without setup, a
    // TIMESTAMP(NANOS)-generation dir throws here while Streaming.routed
    // (which calls setup) streams it fine. A preflight that contradicts
    // runtime is worse than none.
    graft.Tables.setup(spark)
    val schema =
      try {
        if (!graft.fs.ArtifactFs.exists(spark, spec.sourceDir))
          return sourceFail("PATH_NOT_FOUND", s"source dir ${spec.sourceDir} does not exist")
        spark.read.parquet(spec.sourceDir).schema
      } catch {
        case e: Throwable =>
          return sourceFail(e.getClass.getSimpleName,
            Option(e.getMessage).getOrElse("unreadable source").linesIterator.next())
      }
    // ts mirrors the runtime rule (Tables.normalizeTs): any of the three
    // physical shapes the driver generations produce is streamable
    val tsOk = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.TimestampType,
      org.apache.spark.sql.types.TimestampNTZType)
    val missing = Streaming.eventsSchema.fields.filter { f =>
      !schema.fields.exists(g => g.name == f.name &&
        (g.dataType == f.dataType || (f.name == "ts" && tsOk(g.dataType))))
    }
    if (missing.nonEmpty)
      return sourceFail("SCHEMA_MISMATCH",
        s"source schema lacks [${missing.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}]")

    // stage 2: GetTopic analog (only when requested, reference :963-991)
    topicName match {
      case None => okResult()
      case Some(t) if !topicShapeOk(t) =>
        topicFail("INVALID_TOPIC", s"topic '$t' must start with /data/ and contain ChangeEvent")
      case Some(t) if topicSchemaIds.nonEmpty =>
        topicSchemaIds.get(t) match {
          case Some(sid) => okResult(Some(sid))
          case None      => topicFail("NOT_FOUND", s"topic '$t' is not known to the registry")
        }
      case Some(_) => okResult()
    }
  }

  /** Preflight the DSv2 replay-log source options without starting a
    * query: path must exist, `startingReplay` must be a preset or a
    * numeric id, and with `validateReplay=true` a custom id must be inside
    * the stream's range — the same INVALID_ARGUMENT the source raises at
    * subscribe ([[graft.sources.ReplayLogSource]]), surfaced here as a
    * diagnostic row instead of a failed stream.
    */
  def testReplayLog(path: String,
      options: Map[String, String] = Map.empty): TestConnResult = {
    if (!new java.io.File(path).exists())
      return sourceFail("PATH_NOT_FOUND", s"replay log $path does not exist")
    options.getOrElse("startingReplay", "earliest") match {
      case "earliest" | "latest" => okResult()
      case custom =>
        val replay =
          try custom.toLong
          catch {
            case _: NumberFormatException =>
              return sourceFail("INVALID_ARGUMENT",
                s"startingReplay '$custom' is neither a preset nor a replay id")
          }
        val validate = options.get("validateReplay").exists(_.toBoolean)
        lazy val avail = graft.sources.ReplayLogSource.countLines(path)
        // mirror the source's own subscribe check EXACTLY
        // (ReplayLogSource.initialOffset): without validateReplay the
        // source is lenient — it clamps any numeric id — so the
        // diagnostic must not fail a stream that would actually start
        if (validate && (replay < 0L || replay > avail))
          sourceFail("INVALID_ARGUMENT",
            s"requested replay id $replay is not valid for this stream (valid range 0..$avail)")
        else okResult()
    }
  }
}
