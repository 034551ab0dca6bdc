package graft

import graft.operators.{CollectorConfig, CollectorPipeline, ThriftPayload}
import graft.sinks.{CircuitBreaker, EventSink, FailoverSink, ParquetDirSink, RetryPolicy}
import graft.streaming.{PipelineMonitor, StreamingCollector}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, octet_length}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The assembled collector dataflow — what a reference operator would run
  * instead of the Pekko service (reference `Collector.scala:94-204` run
  * loop → one Structured Streaming query):
  *
  *   envelopes → payload build (P1-P7, F1-F8) → thrift wire (P14)
  *            → good sink (with R1-R4 retry/failover)
  *   envelopes → bad rows (F6/F7) → bad sink
  *
  * The two legs run as [[StreamingCollector.collect]]'s one micro-batch
  * body, overlapped like every other collector entry point, plus a
  * [[PipelineMonitor]] listener for /health (R5/R9). Sources and
  * sinks are injected: parquet/file here, Kafka/Kinesis adapters in prod
  * (same `EventSink` contract).
  */
object CollectorApp {

  final case class Running(query: StreamingQuery, monitor: PipelineMonitor)

  /** Wire and start the dataflow on an unbounded envelope DataFrame. */
  def start(
      spark: SparkSession,
      envelopes: DataFrame,
      cfg: CollectorConfig,
      goodSink: EventSink,
      badSink: EventSink,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): Running = {

    val monitor = new PipelineMonitor
    spark.streams.addListener(monitor)

    // the reference's sink gate (`SplitBatch.scala:87`): only events
    // whose SERIALIZED size fits go to the good stream — the size is
    // already on the encoded row, no second serialization. Oversized
    // events surface in badRows (SizeViolation); splittable POSTs would
    // re-enter as sub-records via SplitBatch.splitTp2/routeWire
    // (conservative here: bad-row them — no record on the good wire ever
    // exceeds maxBytes, the contract every sink assumes).
    val query = StreamingCollector.collect(envelopes, checkpointDir, trigger)(
      (batch, id) => goodSink.write(
        ThriftPayload.encode(CollectorPipeline.payloads(batch, cfg)).toDF()
          .filter(octet_length(col("thrift")) < cfg.maxBytes), id),
      (batch, id) => badSink.write(CollectorPipeline.badRows(batch, cfg), id))
      .queryName("graft-collector")
      .start()
    Running(query, monitor)
  }

  /** Default good-side sink: durable parquet primary with a parquet
    * fallback dir, jittered retries and a circuit breaker — the shape the
    * reference runs as Kinesis→SQS (R2). */
  def defaultGoodSink(primaryDir: String, fallbackDir: String): EventSink =
    new FailoverSink(
      new ParquetDirSink(primaryDir, "good-primary"),
      new ParquetDirSink(fallbackDir, "good-fallback"),
      new RetryPolicy(minMs = 500, maxMs = 1500, maxRetries = 3),
      new CircuitBreaker(maxFailures = 5, resetMs = 60000))
}
