package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The stream format's reader reuse: one reader for equal inputs, a new one
  * as soon as anything the reader depends on differs.
  */
class StreamParquetFormatSpec extends SparkSpec {

  private val data = new StructType().add("event_id", LongType).add("event_type", StringType)

  private def build(required: StructType = data, conf: Map[String, String] = Map.empty)
      : PartitionedFile => Iterator[InternalRow] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    conf.foreach { case (k, v) => hadoopConf.set(k, v) }
    new StreamParquetFormat().buildReaderWithPartitionValues(spark, data, new StructType(),
      required, Nil, Map("returning_batch" -> "false"), hadoopConf)
  }

  test("equal inputs get the reader built first; a changed schema or conf entry gets a new one") {
    // A new format instance per call, as Spark makes one per planned epoch.
    val first = build()
    assert(build() eq first)
    val narrower = build(required = new StructType().add("event_id", LongType))
    assert(!(narrower eq first))
    val reconfigured = build(conf = Map("parquet.read.allocation.size" -> "4194304"))
    assert(!(reconfigured eq first))
    assert(build() eq first, "an equal build after others still reuses the first reader")
  }
}
