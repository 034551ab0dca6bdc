package graft.sinks

import graft.streaming.CommitProtocol
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  /** Did a write of `batchId` already start here (this query's fence
    * holds an intent or a commit marker for it)? [[FailoverSink]] sends a
    * replay back to the arm that holds it. A client sink cannot tell, so
    * it answers false and stays at-least-once. */
  def holds(batchId: Long): Boolean = false
}

/** The one file sink: each micro-batch appends parquet to `dir` inside
  * the stores' intent/commit fence ([[CommitProtocol]]). A replayed batch
  * whose commit marker exists writes nothing (a crash after the write and
  * before the checkpoint's commit no longer appends it twice); a
  * half-written one is rolled back before it is rewritten; a killed job's
  * task output left in `dir/_temporary` is cleared before the append, so
  * the next job commit cannot merge it in.
  *
  * The markers live under `dir/_commits/<queryId>/`: every Spark reader
  * skips `_` paths, so readers see the same part files (and `event_date=`
  * directories) as an unfenced append. They are keyed by the persisted
  * query id (the `sql.streaming.queryId` local property, which a restart
  * on the same checkpoint keeps) as well as the batch id: a fresh
  * checkpoint restarts its batch ids at 0 and must not have them skipped
  * as replays. A write outside a streaming query is keyed `none`.
  *
  * Exactly-once holds per query; a plain reader can still see a crashed
  * batch's files until that batch replays and rolls them back. */
final class ParquetDirSink private[sinks] (dir: String, override val name: String, byDay: Boolean)
    extends EventSink {

  def this(dir: String, name: String = "parquet") = this(dir, name, byDay = false)

  def write(batch: DataFrame, batchId: Long): Unit = {
    val fence = fenceOf(batchId)
    if (!fence.beginOrRecover()) fence.commit {
      val w =
        if (!byDay) batch.write
        else batch
          .withColumn("event_date", date_format(timestamp_millis(col("timestamp_ms")), "yyyy-MM-dd"))
          .repartition(col("event_date"))
          .write.partitionBy("event_date")
      w.mode("append").parquet(dir)
    }
  }

  override def holds(batchId: Long): Boolean = fenceOf(batchId).opened

  private def fenceOf(batchId: Long): CommitProtocol = {
    val query = Option(SparkSession.active.sparkContext.getLocalProperty("sql.streaming.queryId"))
    CommitProtocol(dir, s"$dir/_commits/${query.getOrElse("none")}", batchId)
  }
}

/** Date-partitioned lake sink: a [[ParquetDirSink]] whose good wire rows
  * land under `event_date=YYYY-MM-DD/` directories (the session-time-zone
  * day of the row's own `timestamp_ms`, UTC in every shipped session), so
  * downstream readers get listing-time partition pruning and runtime DPP
  * (LakeSpec) over data that is seconds old. The lake stores the wire
  * rows plus `event_date`; `ThriftPayload.decode` gives the payload back.
  *
  * One exchange on the partition key before the partitioned write:
  * without it every task writes a file per day it happens to see (tasks
  * × days × micro-batches small files, the lake-ingest file explosion);
  * with it each day's rows land in few tasks and the listing stays
  * proportional to days, not task fan-out. */
object LakeSink {
  def apply(dir: String, name: String = "lake"): ParquetDirSink = new ParquetDirSink(dir, name, byDay = true)
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
