package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.datasources.{DataSource, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

/** The JSONL spool of an [[HttpEdgeServer]] as a streaming source: the
  * plain `json` file source over the spool dir (same files, same offsets,
  * same `sources/<n>` metadata log in the checkpoint) that first publishes
  * the edge's buffered envelopes whenever the engine asks for the latest
  * offset, so a trigger's batch holds every envelope received before it.
  * Built by [[HttpEdgeServer.stream]]; the schema is the envelope schema,
  * the options are the spool `path` and the `edge` key the server
  * registered itself under. */
final class SpoolSourceProvider extends StreamSourceProvider {

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (s"Spool[${parameters("path")}]", HttpEdge.envelopeSchema)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val files = DataSource(sqlContext.sparkSession, className = "json",
      userSpecifiedSchema = Some(HttpEdge.envelopeSchema),
      options = Map("path" -> parameters("path"))).createSource(metadataPath)
    new SpoolSource(files.asInstanceOf[FileStreamSource], parameters("edge"))
  }
}

/** [[FileStreamSource]] with a publish step before each offset query and a
  * batch sized by its bytes ([[getBatch]]); every other call goes straight
  * to it. The edge is looked up by key on each call, so a stopped edge
  * (which published its tail on stop) is simply no longer asked. */
private[streaming] final class SpoolSource(files: FileStreamSource, edge: String)
    extends Source with SupportsTriggerAvailableNow {

  private def publish(): Unit = HttpEdgeServer.streamed(edge).foreach(_.flush())

  override def schema: StructType = files.schema
  override def getOffset: Option[Offset] = files.getOffset
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    publish(); files.latestOffset(start, limit)
  }
  override def prepareForTriggerAvailableNow(): Unit = {
    publish(); files.prepareForTriggerAvailableNow()
  }
  override def getDefaultReadLimit: ReadLimit = files.getDefaultReadLimit
  override def reportLatestOffset(): OffsetV2 = files.reportLatestOffset()

  /** The file source's batch packed into ⌈bytes / openCostInBytes⌉
    * partitions, at least one and at most the default parallelism, by a
    * narrow coalesce (no exchange). `spark.sql.files.openCostInBytes` is
    * Spark's own estimate of a file open's fixed cost, and the scan gives
    * each spool file smaller than it a partition of its own: a trigger's
    * few small files would run one task per file in each leg, each task
    * paying the write job's fixed cost. So a live batch of a few MB runs
    * one task per leg, and a backlog or replay batch of at least the
    * default parallelism times that cost keeps full width. The byte count
    * is the batch relation's file index, listed already. */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val batch = files.getBatch(start, end)
    val qe = batch.queryExecution
    qe.logical.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.sizeInBytes
    }.fold(batch) { bytes =>
      val openCost = qe.sparkSession.sessionState.conf.filesOpenCostInBytes
      val width = qe.sparkSession.sparkContext.defaultParallelism
      batch.coalesce(math.min(width.toLong, math.max(1L, (bytes + openCost - 1) / openCost)).toInt)
    }
  }
  override def initialOffset(): OffsetV2 = files.initialOffset()
  override def deserializeOffset(json: String): OffsetV2 = files.deserializeOffset(json)
  override def commit(end: OffsetV2): Unit = files.commit(end)
  override def commit(end: Offset): Unit = files.commit(end)
  override def stop(): Unit = files.stop()
  override def toString: String = files.toString
}
