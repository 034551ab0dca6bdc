package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Micro-batch sink contract — the Spark analog of the reference's
  * `Sink.storeRawEvents` (`core/.../sinks/Sink.scala:25-36`). A sink
  * receives one micro-batch DataFrame per trigger inside `foreachBatch`;
  * durability comes from checkpoint replay (a failed batch rethrows and
  * the micro-batch is reprocessed), not from hand-rolled buffers.
  */
trait EventSink {
  def name: String
  /** Write one micro-batch; throw to fail (and replay) the batch. */
  def write(batch: DataFrame, batchId: Long): Unit
  /** Health signal (reference R5's background checks become a cheap
    * flag consulted by failover and the health endpoint). */
  def healthy: Boolean = true
}

/** Parquet directory sink — the default durable good/bad target. */
final class ParquetDirSink(dir: String, override val name: String = "parquet") extends EventSink {
  def write(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("append").parquet(dir)
}

/** Date-partitioned lake sink: good wire rows land under
  * `event_date=YYYY-MM-DD/` directories (the session-time-zone day of the
  * row's own `timestamp_ms`, UTC in every shipped session), so downstream
  * readers get listing-time partition pruning and runtime DPP (LakeSpec)
  * over data that is seconds old. The lake stores the wire rows plus
  * `event_date`; `ThriftPayload.decode` gives the payload back.
  *
  * One exchange on the partition key before the partitioned write:
  * without it every task writes a file per day it happens to see (tasks
  * × days × micro-batches small files, the lake-ingest file explosion);
  * with it each day's rows land in few tasks and the listing stays
  * proportional to days, not task fan-out. */
final class LakeSink(dir: String, override val name: String = "lake") extends EventSink {
  def write(batch: DataFrame, batchId: Long): Unit =
    batch
      .withColumn("event_date", date_format(timestamp_millis(col("timestamp_ms")), "yyyy-MM-dd"))
      .repartition(col("event_date"))
      .write.mode("append").partitionBy("event_date").parquet(dir)
}

/** K9 stdout sink: one base64 line per payload, printed executor-side
  * (reference `stdout/.../StdoutSink.scala:24-40` — the GOOD stream
  * prints to stdout, the BAD stream to stderr). `col` must be binary
  * or string payload. */
final class Base64StdoutSink(payloadCol: String, toStderr: Boolean = false)
    extends EventSink {
  val name = if (toStderr) "stderr" else "stdout"
  def write(batch: DataFrame, batchId: Long): Unit = {
    val err = toStderr
    batch.select(base64(col(payloadCol).cast("binary")).as("b64"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val out = if (err) System.err else System.out
        rows.foreach(r => out.println(r.getString(0)))
      }
  }
}

/** Replay-safe parquet sink: each micro-batch lands in its own
  * `batch_id=N` partition directory with overwrite, so a batch replayed
  * after an unclean restart overwrites itself instead of duplicating —
  * foreachBatch's at-least-once becomes effective exactly-once. Readers
  * just scan `dir` (the batch_id partition column prunes like any
  * other). */
final class IdempotentParquetSink(dir: String, override val name: String = "parquet-idem")
    extends EventSink {
  def write(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
}

/** In-memory sink for tests and for modeling transient failures. */
final class CollectingSink(
    val name: String,
    failFirst: Int = 0,
    healthyFlag: () => Boolean = () => true) extends EventSink {
  private var failures = 0
  val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
  override def healthy: Boolean = healthyFlag()
  def write(batch: DataFrame, batchId: Long): Unit = this.synchronized {
    if (failures < failFirst) {
      failures += 1
      throw new RuntimeException(s"$name transient failure $failures")
    }
    batch.count() // force
    batches += batchId
  }
}
