package graft.streaming

import graft.operators.{CollectorConfig, CollectorPipeline, ThriftPayload}
import graft.sinks.EventSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, date_format, timestamp_millis}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The collector pipeline under Structured Streaming.
  *
  * The batch transforms ([[CollectorPipeline]]) are pure projections and
  * filters, so the *same* functions run unchanged on a streaming
  * DataFrame — one definition, two execution modes. Micro-batching with
  * `Trigger.ProcessingTime` is the engine analog of the reference's
  * byte/record/time buffer flush (`KinesisSink.scala:87-142`): the time
  * limit maps to the trigger interval, and checkpointing upgrades the
  * reference's lossy at-least-once (unflushed buffers die with the
  * process) to replayable exactly-once-per-sink-write (SURVEY §7.4.4).
  *
  * Good/bad dual routing (reference `CollectorSinks`, `model.scala:37`)
  * happens in one `foreachBatch` body ([[collect]]) shared by every
  * collector entry point, [[graft.CollectorApp.start]] included: the
  * batch is cached once, the good and bad legs write from it overlapped,
  * so the source is read once per micro-batch. The entry points differ
  * only in what their two legs write.
  *
  * State store at scale: the stateful operators (Sessionize, StreamJoin,
  * StreamingDedup) default to Spark's heap-backed store — fine locally,
  * but a 100 TB deployment should set
  * `spark.sql.streaming.stateStore.providerClass` to
  * `RocksDBStateStoreProvider` so state lives off-heap with incremental
  * checkpointing (measured at parity locally — BASELINE.md r7 A/B).
  */
object StreamingCollector {

  /** Default trigger = the reference's buffer.timeLimit (5000 ms). */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("5 seconds")

  /** The one micro-batch body every collector entry point runs
    * ([[start]], [[startToLake]], [[startWithSinks]] and
    * [[graft.CollectorApp.start]]): persist the batch, run the good and
    * bad legs overlapped, join both before rethrowing either's error,
    * unpersist.
    *
    * The legs are independent jobs over the same persisted batch; run one
    * after the other they leave the cluster idle through each leg's tail.
    * The good leg runs on the query thread and the bad leg on a fresh
    * thread, which inherits the batch's Spark local properties (job group,
    * query and batch ids), so stopping the query cancels both legs' jobs.
    * Both legs end before the batch returns to the engine, so the
    * checkpoint commit still happens-after both sink writes (the
    * exactly-once-per-sink-write replay contract), and a failure in either
    * leg fails the batch. Cache-block locking makes the concurrent first
    * materialization of the persisted batch compute each partition once. */
  private[graft] def collect(envelopes: DataFrame, checkpointDir: String, trigger: Trigger)(
      good: (DataFrame, Long) => Unit,
      bad: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    envelopes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.persist()
        try {
          var badErr: Throwable = null
          val badLeg = new Thread(
            () => try bad(batch, id) catch { case t: Throwable => badErr = t },
            "collector-bad-leg")
          badLeg.start()
          try good(batch, id)
          catch {
            case t: Throwable =>
              badLeg.join()
              if (badErr != null) t.addSuppressed(badErr)
              throw t
          }
          badLeg.join()
          if (badErr != null) throw badErr
        } finally batch.unpersist()
        ()
      }

  def start(
      envelopes: DataFrame,
      cfg: CollectorConfig,
      goodDir: String,
      badDir: String,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    collect(envelopes, checkpointDir, trigger)(
      (batch, _) => CollectorPipeline.payloads(batch, cfg).write.mode("append").parquet(goodDir),
      (batch, _) => CollectorPipeline.badRows(batch, cfg).write.mode("append").parquet(badDir))
      .start()

  /** Streaming ingest straight into the date-partitioned lake: good
    * payloads land under `event_date=YYYY-MM-DD/` directories (UTC day of
    * the event's own timestamp), so downstream readers get listing-time
    * partition pruning and runtime DPP (LakeSpec) over data that is
    * seconds old — the stream→lake→pruned-read path a 100 TB deployment
    * actually runs. Dynamic per-batch partitions append disjoint files;
    * replayed micro-batches re-append idempotently at the sink level via
    * checkpoint replay semantics (same guarantees as [[start]]). */
  def startToLake(
      envelopes: DataFrame,
      cfg: CollectorConfig,
      lakeDir: String,
      badDir: String,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    collect(envelopes, checkpointDir, trigger)(
      (batch, _) =>
        CollectorPipeline.payloads(batch, cfg)
          .withColumn("event_date",
            date_format(timestamp_millis(col("timestamp_ms")), "yyyy-MM-dd"))
          // R10: ONE exchange on the partition key before the
          // partitioned write — without it every task writes a file
          // per day it happens to see (tasks × days × micro-batches
          // small files, the classic lake-ingest file explosion); with
          // it each day's rows land in few tasks and the listing stays
          // proportional to days, not task fan-out. The standard
          // dynamic-partition-write discipline at 100 TB.
          .repartition(col("event_date"))
          .write.mode("append").partitionBy("event_date").parquet(lakeDir),
      (batch, _) => CollectorPipeline.badRows(batch, cfg).write.mode("append").parquet(badDir))
      .start()

  /** The PRODUCTION wiring: config-selected [[EventSink]]s instead of raw
    * parquet paths — the engine analog of the reference's
    * `CollectorSinks(good, bad)` pair (`model.scala:37`). The good leg
    * carries thrift wire records (`thrift` + `partition_key`, what every
    * reference sink ships — `Sink.scala:34`); the bad leg carries the
    * self-describing iglu envelopes. A sink throw fails the micro-batch,
    * which replays from the checkpoint — retry/backoff/failover live
    * INSIDE the sinks ([[graft.sinks.ClientSinks]]). Pair with
    * [[graft.sinks.ClientSinks.sinkFromSettings]] to go from a parsed
    * HOCON/JSON config straight to a running collector. */
  def startWithSinks(
      envelopes: DataFrame,
      cfg: CollectorConfig,
      goodSink: EventSink,
      badSink: EventSink,
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    collect(envelopes, checkpointDir, trigger)(
      (batch, id) => goodSink.write(
        ThriftPayload.encode(CollectorPipeline.payloads(batch, cfg)).toDF(), id),
      (batch, id) => badSink.write(CollectorPipeline.badRowsJson(batch, cfg), id))
      .start()
}
