package graft

import graft.operators.{CollectorConfig, CollectorPipeline}
import graft.sinks.{CircuitBreaker, EventSink, FailoverSink, ParquetDirSink, RetryPolicy}
import graft.streaming.{BatchArms, PipelineMonitor}
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
  * [[start]] is the collector's only entry point. As in the reference,
  * whose run loop varies only by the injected `CollectorSinks(good, bad)`
  * pair (`model.scala:37`), the only thing that varies between wirings is
  * the two [[EventSink]]s: parquet directories ([[ParquetDirSink]],
  * [[defaultGoodSink]]), the date-partitioned lake
  * ([[graft.sinks.LakeSink]]), or the config-selected client streams
  * ([[graft.sinks.ClientSinks.sinkFor]] with `Leg.Good` /
  * `Leg.Bad`). Micro-batching with
  * a processing-time trigger is the engine analog of the reference's
  * byte/record/time buffer flush (`KinesisSink.scala:87-142`): the time
  * limit maps to the trigger interval ([[DefaultTrigger]]), and the
  * checkpoint replays a batch whose sink write failed (SURVEY §7.4.4).
  * A file sink fences each batch by its id, so a replay never appends a
  * written batch twice: the file legs are exactly-once per query; the
  * client streams are at-least-once.
  *
  * A [[PipelineMonitor]] listener serves /health (R5/R9) and detaches
  * itself once this query has terminated. Behind the live edge the source
  * is [[graft.streaming.HttpEdgeServer.stream]], which publishes the
  * edge's buffered envelopes at each trigger, so a request waits at most
  * one trigger for its batch. Checkpoint logs and parquet sink files go
  * through the session's fork-free `file:` classes ([[GraftSession]]), so
  * a trigger starts no `chmod`/`readlink` process.
  */
object CollectorApp {

  /** The default trigger: the reference's `buffer.timeLimit` (5000 ms). */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime(5000L)

  final case class Running(query: StreamingQuery, monitor: PipelineMonitor)

  /** Wire and start the dataflow on an unbounded envelope DataFrame.
    *
    * [[CollectorPipeline.route]] is part of the streaming plan: each
    * envelope's payload is built and serialized once per trigger, and the
    * micro-batch the engine hands [[collect]] is already the narrow routed
    * rows (no bodies or headers, no exchange). The good leg
    * ([[CollectorPipeline.goodLeg]]) holds only events whose serialized
    * size is below `maxBytes` (the reference's sink gate
    * `SplitBatch.scala:87`: no record on the good wire ever reaches
    * maxBytes, the contract every sink assumes); the bad leg
    * ([[CollectorPipeline.badLeg]]) holds GenericError + SizeViolation rows
    * with their self-describing JSON. Oversized splittable POSTs are
    * bad-rowed whole here; the split-aware routing is
    * [[graft.operators.SplitBatch.routeWire]]. With file sinks a
    * micro-batch runs two jobs, one per sink write. */
  def start(
      spark: SparkSession,
      envelopes: DataFrame,
      cfg: CollectorConfig,
      goodSink: EventSink,
      badSink: EventSink,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger): Running = {

    val monitor = new PipelineMonitor
    spark.streams.addListener(monitor)
    val query = CollectorPipeline.route(envelopes, cfg).writeStream
      .queryName("graft-collector")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, id: Long) => collect(batch, id, cfg, goodSink, badSink))
      .start()
    monitor.detachAfter(spark.streams, query.id)
    Running(query, monitor)
  }

  /** One micro-batch: one [[BatchArms]] scope persists the routed rows,
    * writes the good leg on the query thread and the bad leg as the
    * scope's one arm, and unpersists once both ended.
    *
    * The legs are independent jobs over the same persisted batch; run one
    * after the other they leave the cluster idle through each leg's tail.
    * The arm inherits the batch's Spark local properties (job group,
    * query and batch ids), so stopping the query cancels both legs' jobs,
    * and a failure in either leg cancels the other's jobs and fails the
    * batch. The scope returns only after both legs ended, so the
    * checkpoint commit happens-after both sink writes. Cache-block locking
    * makes the concurrent first materialization of the persisted batch
    * compute each partition once. */
  private def collect(batch: DataFrame, id: Long, cfg: CollectorConfig,
      goodSink: EventSink, badSink: EventSink): Unit =
    BatchArms(batch.sparkSession) { arms =>
      batch.persist()
      arms.release(batch.unpersist())
      arms.fork("collector bad leg")(badSink.write(CollectorPipeline.badLeg(batch, cfg), id))
      goodSink.write(CollectorPipeline.goodLeg(batch), id)
    }

  /** Default good-side sink: durable parquet primary with a parquet
    * fallback dir, jittered retries and a circuit breaker — the shape the
    * reference runs as Kinesis→SQS (R2). A replayed batch goes back to
    * the directory that took it. */
  def defaultGoodSink(primaryDir: String, fallbackDir: String): EventSink =
    new FailoverSink(
      new ParquetDirSink(primaryDir, "good-primary"),
      new ParquetDirSink(fallbackDir, "good-fallback"),
      new RetryPolicy(minMs = 500, maxMs = 1500, maxRetries = 3),
      new CircuitBreaker(maxFailures = 5, resetMs = 60000))
}
