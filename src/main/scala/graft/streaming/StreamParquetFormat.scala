package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Parquet for a file stream's source, with its file reader built once.
  *
  * Spark plans a file stream's scan again on every epoch, and each plan's
  * `buildReaderWithPartitionValues` broadcasts the Hadoop conf anew: a
  * serialization on the driver before the epoch's job starts, and a 4 MB
  * broadcast buffer (a humongous object for G1 at a 2 GB heap) that lives
  * until the next young collection. This format hands each epoch the
  * reader an earlier epoch built whenever everything the reader depends on
  * is equal: the Spark application (its broadcast dies with it), the
  * schemas, the pushed filters, the options and the Hadoop conf, which
  * carries every SQL setting of the session. Name it as the stream's
  * format: `readStream.format(classOf[StreamParquetFormat].getName)`.
  */
final class StreamParquetFormat extends ParquetFileFormat {
  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val sc = sparkSession.sparkContext
    val key = (sc.applicationId, sc.startTime, dataSchema, partitionSchema, requiredSchema,
      filters, options, hadoopConf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
    StreamParquetFormat.readers.synchronized {
      StreamParquetFormat.readers.computeIfAbsent(key, _ => super.buildReaderWithPartitionValues(
        sparkSession, dataSchema, partitionSchema, requiredSchema, filters, options, hadoopConf))
    }
  }
}

private object StreamParquetFormat {
  type Reader = PartitionedFile => Iterator[InternalRow]

  /** Readers by everything they depend on, least recently used first; at
    * most 8, so a restarted or reconfigured stream does not pin old ones.
    */
  val readers: java.util.LinkedHashMap[AnyRef, Reader] =
    new java.util.LinkedHashMap[AnyRef, Reader](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[AnyRef, Reader]): Boolean = size > 8
    }
}
