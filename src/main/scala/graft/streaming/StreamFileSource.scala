package graft.streaming

import java.net.URI
import org.apache.hadoop.fs.Path
import org.apache.spark.{PartitionEvaluator, PartitionEvaluatorFactory}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics,
  StreamSourceAwareLogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.{LeafExecNode, PartitionedFileUtil, SparkPlan, SparkStrategy,
  StreamSourceAwareSparkPlan}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD,
  FileStatusWithMetadata, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSource, FileStreamSourceLog,
  FileStreamSourceOffset}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

/** A parquet file stream whose epoch costs a file-log lookup and one RDD.
  *
  * Discovery, file order, `maxFilesPerTrigger`, `AvailableNow` and the
  * checkpoint's `sources/0` batch→files log are Spark's own
  * `FileStreamSource`, so offsets, replay and a checkpoint written by
  * Spark's parquet stream are unchanged. Only `getBatch` differs: where
  * Spark resolves a new file relation per epoch (a file index, a provider
  * lookup, Hadoop conf copies) and then plans and code-generates its scan,
  * [[StreamFileSource]] reads the epoch's files from the log and maps one
  * parquet reader, built when the stream starts, over them. The epoch's
  * plan is one leaf, [[EpochRows]], planned by [[EpochRows.Planning]] as
  * [[EpochRowsExec]]: not a codegen operator, so no whole-stage stage is
  * generated around it and no closure is cleaned; its `numOutputRows`
  * is the epoch's `numInputRows` in the query's progress.
  *
  * The rows are the reader's, not `UnsafeRow`s: read them through a
  * projection (every plan over this source projects first).
  *
  * Spark-internal members used (public in Spark 4.1, no package shim):
  * `FileStreamSource`, `FileStreamSourceLog`, `FileScanRDD`,
  * `PartitionedFileUtil.splitFiles` and `ParquetFileFormat`'s reader; and,
  * by reflection, `FileStreamSource`'s private `metadataLog` (a renamed
  * field fails the stream's start, not an epoch).
  */
object StreamFileSource {

  /** The stream of `schema`'s columns of the parquet files in `dir`, at
    * most `maxFilesPerTrigger` per epoch. Adds [[EpochRows.Planning]] to
    * `spark`'s planner, where it stays (it plans nothing else).
    */
  def read(spark: SparkSession, dir: String, schema: StructType, maxFilesPerTrigger: Int): DataFrame = {
    EpochRows.install(spark)
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(classOf[StreamFileSourceProvider].getName)
      .load(dir)
  }
}

/** The provider [[StreamFileSource.read]] names; requires a schema. */
final class StreamFileSourceProvider extends StreamSourceProvider {
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    providerName -> schema.getOrElse(throw new IllegalArgumentException("a stream file source needs a schema"))

  override def createSource(sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): Source =
    new StreamFileSource(castToImpl(sqlContext.sparkSession), parameters("path"), schema.get,
      metadataPath, parameters)
}

private[streaming] final class StreamFileSource(session: classic.SparkSession, dir: String,
    override val schema: StructType, metadataPath: String, options: Map[String, String])
    extends FileStreamSource(session, dir, "parquet", schema, Nil, metadataPath, options) {

  /** The batch→files log the parent source writes (a private field in
    * Spark). Its own instance, not a second one over the same directory:
    * it keeps the compaction batches it wrote in memory, where a second
    * instance would read every entry so far out of the compacted file.
    */
  private val fileLog = {
    val field = classOf[FileStreamSource].getDeclaredField("metadataLog")
    field.setAccessible(true)
    field.get(this).asInstanceOf[FileStreamSourceLog]
  }
  private val encoder = Encoders.row(schema)
  private val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
  private val reader: PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(session, schema, new StructType(),
      schema, Nil, options + ("returning_batch" -> "false"), hadoopConf)

  override def getBatch(start: Option[Offset], end: Offset): classic.Dataset[Row] = {
    val from = start.map(FileStreamSourceOffset(_).logOffset).getOrElse(-1L) + 1
    val files = fileLog.get(Some(from), Some(FileStreamSourceOffset(end).logOffset)).flatMap(_._2)
    val statuses = files.toSeq.map { f =>
      val path = new Path(new URI(f.path))
      FileStatusWithMetadata(path.getFileSystem(hadoopConf).getFileStatus(path))
    }
    // split and packed as Spark's file scan does
    val maxSplit = FilePartition.maxSplitBytes(session, Seq(PartitionDirectory(InternalRow.empty, statuses)))
    val splits = statuses.flatMap(s =>
      PartitionedFileUtil.splitFiles(s, s.getPath, isSplitable = true, maxSplit, InternalRow.empty))
    val rows = new FileScanRDD(session, reader,
      FilePartition.getFilePartitions(session, splits.sortBy(-_.length), maxSplit), schema)
    new classic.Dataset(session, EpochRows(DataTypeUtils.toAttributes(schema), rows), encoder)
  }
}

/** One epoch's source rows: a streaming leaf over an RDD. */
private[graft] case class EpochRows(output: Seq[Attribute], rows: RDD[InternalRow],
    stream: Option[SparkDataStream] = None) extends LeafNode with StreamSourceAwareLogicalPlan {
  override def isStreaming: Boolean = true
  override def withStream(s: SparkDataStream): LogicalPlan = copy(stream = Some(s))
  override def getStream: Option[SparkDataStream] = stream
  override def computeStats(): Statistics = Statistics(sizeInBytes = conf.defaultSizeInBytes)
}

private[graft] object EpochRows {

  /** Plans [[EpochRows]]; inert for every other plan. */
  object Planning extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case r: EpochRows => EpochRowsExec(r.output, r.rows, r.stream) :: Nil
      case _ => Nil
    }
  }

  /** Add [[Planning]] to `spark`'s planner, once; a stream's session copies
    * it when the stream starts.
    */
  def install(spark: SparkSession): Unit = {
    val methods = castToImpl(spark).experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(Planning)) methods.extraStrategies :+= Planning
    }
  }
}

/** [[EpochRows]] planned: its rows, counted. */
private[graft] case class EpochRowsExec(output: Seq[Attribute], rows: RDD[InternalRow],
    @transient stream: Option[SparkDataStream]) extends LeafExecNode with StreamSourceAwareSparkPlan {
  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))
  override def getStream: Option[SparkDataStream] = stream
  override protected def doExecute(): RDD[InternalRow] =
    rows.mapPartitionsWithEvaluator(new CountRows(longMetric("numOutputRows")))
}

private final class CountRows(n: SQLMetric) extends PartitionEvaluatorFactory[InternalRow, InternalRow] {
  override def createEvaluator(): PartitionEvaluator[InternalRow, InternalRow] =
    new PartitionEvaluator[InternalRow, InternalRow] {
      override def eval(partition: Int, inputs: Iterator[InternalRow]*): Iterator[InternalRow] =
        inputs.head.map { r => n.add(1); r }
    }
}
