package graft

import graft.operators.{CollectorConfig, CollectorPipeline}
import graft.sinks.{CircuitBreaker, EventSink, FailoverSink, ParquetDirSink, RetryPolicy}
import graft.streaming.{PipelineMonitor, StreamingCollector}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The assembled collector dataflow — what a reference operator would run
  * instead of the Pekko service (reference `Collector.scala:94-204` run
  * loop → one Structured Streaming query):
  *
  *   envelopes → route (payload build P1-P7 + F1-F8, one thrift pass P14,
  *               size gate F6) ─┬→ good wire rows → good sink (R1-R4)
  *                              └→ bad rows       → bad sink
  *
  * A [[PipelineMonitor]] listener serves /health (R5/R9) and detaches
  * itself once this query has terminated. Sources and sinks are
  * injected: parquet/file here, Kafka/Kinesis adapters in prod (same
  * `EventSink` contract). Behind the live edge the source is
  * [[graft.streaming.HttpEdgeServer.stream]], which publishes the edge's
  * buffered envelopes at each trigger, so a request waits at most one
  * trigger for its batch. Checkpoint logs and parquet sink files go
  * through the session's fork-free `file:` classes
  * ([[GraftSession]]), so a trigger starts no `chmod`/`readlink` process.
  */
object CollectorApp {

  final case class Running(query: StreamingQuery, monitor: PipelineMonitor)

  /** Wire and start the dataflow on an unbounded envelope DataFrame.
    *
    * [[CollectorPipeline.route]] is part of the streaming plan: each
    * envelope's payload is built and serialized once per trigger, and the
    * micro-batch the engine hands [[StreamingCollector.collect]] is
    * already the narrow routed rows (no bodies or headers, no exchange).
    * The collect body persists them and writes its two legs overlapped —
    * the good leg ([[CollectorPipeline.goodLeg]]: only events whose
    * serialized size is below `maxBytes`, the reference's sink gate
    * `SplitBatch.scala:87`) on the query thread and the bad leg
    * ([[CollectorPipeline.badLeg]]: GenericError + SizeViolation) as its
    * arm — so a micro-batch runs two jobs, one per sink write. Oversized
    * splittable POSTs are bad-rowed whole here (no record on the good wire
    * ever exceeds maxBytes, the contract every sink assumes); the
    * split-aware routing is [[graft.operators.SplitBatch.routeWire]]. */
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
    val routed = CollectorPipeline.route(envelopes, cfg)
    val query = StreamingCollector.collect(routed, checkpointDir, trigger)(
      (batch, id) => goodSink.write(CollectorPipeline.goodLeg(batch), id),
      (batch, id) => badSink.write(CollectorPipeline.badLeg(batch), id))
      .queryName("graft-collector")
      .start()
    monitor.detachAfter(spark.streams, query.id)
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
