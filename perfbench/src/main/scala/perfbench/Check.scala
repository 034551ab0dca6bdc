package perfbench

import graft.operators.{CollectorConfig, CollectorPipeline, ThriftPayload, WirePayload}
import graft.streaming.HttpEdge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Outcome of the output check of one set of sink directories. */
final case class SinkCheck(
    envelopes: Long, good: Long, badSize: Long, badGeneric: Long,
    suppressed: Long, fallback: Long, goodMismatch: Long, badMismatch: Long) {
  def identityHolds: Boolean = envelopes == good + badSize + badGeneric + suppressed
  /** Rows in the sinks that the batch result does not have, or vice versa,
    * plus one for a broken envelope identity. */
  def failures: Long = goodMismatch + badMismatch + (if (identityHolds) 0 else 1)
}

/** The batch result over a spool: what the sinks must hold, as multisets.
  * Good rows are `CollectorPipeline.payloads` → `ThriftPayload.encode`,
  * gated at `maxBytes` exactly like the collector's good leg, and compared
  * after `ThriftPayload.decode`; bad rows are `CollectorPipeline.badRows`.
  * Runs are small (tens of thousands of rows), so both sides are collected
  * and compared on the driver. */
final class Expected(spark: SparkSession, spoolDir: String, cfg: CollectorConfig) {
  import spark.implicits._

  val env: DataFrame = spark.read.schema(HttpEdge.envelopeSchema).json(spoolDir).cache()
  private val tagOf: Map[Long, Long] =
    env.select(col("event_id"), Spool.tagCol).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  val envelopes: Long = tagOf.size.toLong
  private val goodWire = ThriftPayload.encode(CollectorPipeline.payloads(env, cfg))
    .filter(octet_length(col("thrift")) < cfg.maxBytes)
  private val badDf: DataFrame = CollectorPipeline.badRows(env, cfg)
  private val good: Seq[Row] = ThriftPayload.decode(goodWire).toDF().collect().toSeq
  private val bad: Seq[Row] = badDf.collect().toSeq
  private val goodBag = bag(good)
  private val badBag = bag(bad)
  val suppressed: Long = env.filter(
    CollectorPipeline.qsValid(col("querystring")) &&
      (CollectorPipeline.dntSuppressed(cfg) || CollectorPipeline.bounceSuppressed(cfg))).count()

  private def bag(rows: Seq[Row]): Map[Row, Int] = rows.groupMapReduce(identity)(_ => 1)(_ + _)

  /** Rows in one multiset and not the other, counted with multiplicity. */
  private def mismatch(a: Map[Row, Int], b: Map[Row, Int]): Long =
    (a.keySet ++ b.keySet).iterator.map(k => math.abs(a.getOrElse(k, 0) - b.getOrElse(k, 0)).toLong).sum

  private def parquetRows(dir: String): Option[DataFrame] =
    if (Files.isDirectory(Paths.get(dir)) &&
        Files.list(Paths.get(dir)).iterator().asScala.exists(_.toString.endsWith(".parquet")))
      Some(spark.read.parquet(dir))
    else None

  def check(goodDir: String, fallbackDir: String, badDir: String): SinkCheck = {
    val wires = Seq(goodDir, fallbackDir).flatMap(parquetRows)
    val fallback = parquetRows(fallbackDir).map(_.count()).getOrElse(0L)
    val actualGood = wires.reduceOption(_ unionByName _)
      .map(w => ThriftPayload.decode(w.as[WirePayload]).toDF().collect().toSeq).getOrElse(Nil)
    val actualBad = parquetRows(badDir)
      .map(_.select(badDf.columns.map(col).toIndexedSeq: _*).collect().toSeq).getOrElse(Nil)
    val byType = actualBad.groupMapReduce(_.getString(1))(_ => 1L)(_ + _)
    SinkCheck(envelopes, actualGood.size.toLong, byType.getOrElse("SizeViolation", 0L),
      byType.getOrElse("GenericError", 0L), suppressed, fallback,
      mismatch(goodBag, bag(actualGood)), mismatch(badBag, bag(actualBad)))
  }

  /** (good, bad) rows the batch result holds for requests tagged in
    * [from, until) (one window's requests). */
  def timedRows(from: Long, until: Long): (Long, Long) = {
    def timed(rows: Seq[Row]) =
      rows.count(r => tagOf.get(r.getLong(0)).exists(t => t >= from && t < until)).toLong
    (timed(good), timed(bad))
  }

  def close(): Unit = env.unpersist()
}

/** The spool and the file source's offset log, read back after a run. */
object Spool {
  private val TagRe = "[?&]bq=([0-9]+)".r
  private val LogRe = "\"path\":\"([^\"]+)\".*?\"batchId\":([0-9]+)".r

  def tagCol = regexp_extract(col("raw_uri"), "[?&]bq=([0-9]+)", 1).cast("long")

  def partFiles(spoolDir: String): Seq[Path] =
    Files.list(Paths.get(spoolDir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)

  /** tag → spool files that hold it (more than one = a duplicate). */
  def tags(spoolDir: String): Map[Long, Seq[String]] =
    partFiles(spoolDir).flatMap { p =>
      val name = p.getFileName.toString
      Files.readAllLines(p).asScala.flatMap { line =>
        val i = line.indexOf("\"raw_uri\":")
        val j = line.indexOf("\",", i + 10)
        TagRe.findFirstMatchIn(line.substring(i, j)).map(_.group(1).toLong -> name)
      }
    }.groupMap(_._1)(_._2)

  /** spool file name → id of the batch that read it, from the file
    * source's metadata log in the checkpoint (compacted files included). */
  def fileBatches(checkpointDir: String): Map[String, Long] = {
    val dir = Paths.get(checkpointDir, "sources", "0")
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => LogRe.findFirstMatchIn(l))
      .map(m => m.group(1).substring(m.group(1).lastIndexOf('/') + 1) -> m.group(2).toLong)
      .toMap
  }
}
