package graft.cdc

import java.io.ByteArrayOutputStream
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.DecodeChangeEvent
import graft.plans.GraftExtensions
import scala.jdk.CollectionConverters._

/** P1/S4 — Avro binary decode against a dynamic schema registry, the heart
  * of the reference's event decoding (`AvroDecoder`,
  * `app/services/sf_pubsub.py:308-330`): each event carries a `schema_id`;
  * the schema JSON is resolved from a registry and **memoized per
  * decoder** (the `_schema_cache` analog), so a mixed-schema stream decodes
  * without per-event registry hits.
  *
  * Decode is planned as the native codegen'd [[DecodeChangeEvent]]
  * expression (the same fused-call pattern as spark-avro's
  * `AvroDataToCatalyst`): the surrounding project/filter pipeline stays in
  * one WholeStageCodegen stage with no
  * SerializeFromObject/DeserializeToObject boundary — the round-1
  * `mapPartitions` form paid a Dataset-encoder round-trip per event. The
  * decoder cache lives one-per-task-deserialized expression instance, so on
  * a 1000-executor cluster each task still materializes only the schemas
  * its partition actually sees.
  */
object AvroCodec {

  /** The change-event Avro schema (v1) mirroring §1.3. */
  val SchemaV1Json: String =
    """{"type":"record","name":"ChangeEvent","fields":[
      |{"name":"entity","type":"string"},
      |{"name":"change_type","type":"string"},
      |{"name":"record_ids","type":{"type":"array","items":"string"}},
      |{"name":"commit_raw","type":["null","long"],"default":null},
      |{"name":"flash_raw","type":["null","string"],"default":null}]}""".stripMargin

  /** v2 adds an optional source field with a default — the
    * forward-compatible evolution shape a registry serves.
    */
  val SchemaV2Json: String =
    """{"type":"record","name":"ChangeEvent","fields":[
      |{"name":"entity","type":"string"},
      |{"name":"change_type","type":"string"},
      |{"name":"record_ids","type":{"type":"array","items":"string"}},
      |{"name":"commit_raw","type":["null","long"],"default":null},
      |{"name":"flash_raw","type":["null","string"],"default":null},
      |{"name":"source_org","type":["null","string"],"default":null}]}""".stripMargin

  /** Encode one event with the given writer schema (test/fixture path). */
  def encode(schemaJson: String, entity: String, changeType: String,
      recordIds: Seq[String], commitRaw: Option[Long],
      flashRaw: Option[String], extra: Map[String, String] = Map.empty): Array[Byte] = {
    val schema = new Schema.Parser().parse(schemaJson)
    val rec = new GenericData.Record(schema)
    rec.put("entity", entity)
    rec.put("change_type", changeType)
    rec.put("record_ids", recordIds.asJava)
    commitRaw.foreach(v => rec.put("commit_raw", java.lang.Long.valueOf(v)))
    flashRaw.foreach(v => rec.put("flash_raw", v))
    extra.foreach { case (k, v) => if (schema.getField(k) != null) rec.put(k, v) }
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** Decode (replay_id, schema_id, payload) rows against `registry`
    * (schema_id → writer-schema JSON), reading with `readerSchemaJson` so
    * mixed schema versions normalize to one projection — the reference's
    * fixed header+flash projection makes this safe (SURVEY §1.2).
    *
    * `permissive = true` reproduces the reference's per-event error
    * isolation (a corrupt payload marks the error and the loop continues,
    * `app/services/sf_pubsub.py:786-788`): undecodable events decode to
    * null and are dropped. `permissive = false` fails the task — for feeds
    * where corruption must halt the pipeline. An unknown schema_id always
    * fails (config error, not data corruption).
    */
  def decode(spark: SparkSession, events: DataFrame,
      registry: Map[String, String],
      readerSchemaJson: String = SchemaV1Json,
      permissive: Boolean = false): DataFrame = {
    // registry map as a foldable CreateMap literal — the builder registered
    // by GraftExtensions extracts it at plan time (from_avro's contract for
    // its schema/options args). Sorted for a deterministic plan string.
    val regCol = map(registry.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val ev = call_function("decode_change_event",
      col("payload"), col("schema_id"), regCol,
      lit(readerSchemaJson), lit(permissive))
    val decoded = GraftExtensions.register(events)
      .select(col("replay_id"), col("schema_id"), ev.as("ev"))
    // permissive corrupt events decode to null — drop them (strict mode
    // throws inside the expression instead, failing the task)
    (if (permissive) decoded.filter(col("ev").isNotNull) else decoded)
      .select(col("replay_id"), col("schema_id"),
        col("ev.entity").as("entity"),
        col("ev.change_type").as("change_type"),
        col("ev.record_ids").as("record_ids"),
        col("ev.commit_raw").as("commit_raw"),
        col("ev.flash_raw").as("flash_raw"))
  }
}
