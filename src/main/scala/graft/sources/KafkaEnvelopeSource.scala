package graft.sources

import graft.streaming.HttpEdge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Production envelope ingestion: request envelopes as JSON on a Kafka
  * topic (what an HTTP ingress tier would publish — the engine boundary
  * per SURVEY §7.1), decoded into the same columns the test adapter
  * produces, so the whole pipeline downstream is source-agnostic.
  *
  * Requires the spark-sql-kafka connector at runtime (not shipped in
  * this container — builder compiles against the stable `format("kafka")`
  * string API and is exercised for frame-decode logic via
  * [[decodeFrames]] on any key/value DataFrame).
  */
object KafkaEnvelopeSource {

  /** Kafka `value` bytes (JSON envelope, the edge's spool record
    * [[HttpEdge.envelopeJson]]) → the envelope columns of
    * [[HttpEdge.envelopeSchema]]. Works on any
    * DataFrame with a binary/string `value` column — the decode step is
    * testable without a broker. */
  def decodeFrames(frames: DataFrame): DataFrame =
    frames
      .select(from_json(col("value").cast("string"), HttpEdge.envelopeSchema).as("env"))
      .select(col("env.*"))

  /** The streaming source: subscribe + decode. */
  def stream(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    decodeFrames(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .load())
}
