package graft

import graft.operators.{CollectorConfig, CollectorPipeline, SplitBatch, ThriftPayload}
import graft.sources.EventEnvelopeAdapter
import graft.streaming.HttpEdge
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `CollectorPipeline.route` against the definitions it replaced: its good
  * leg is `encode(payloads)` gated at maxBytes (byte-equal thrift), its
  * bad leg is the GenericError projection plus the SizeViolation pass. */
class CollectorRouteSpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark

  private type Good = (Long, String, Seq[Byte])
  private type Bad = (Long, String, String, Long)

  private def bag[A](xs: Seq[A]): Map[A, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)

  /** The pre-route definitions: good wire rows, then GenericError rows
    * plus SizeViolation rows (fields of the oversized wire records). */
  private def before(env: DataFrame, cfg: CollectorConfig): (Seq[Good], Seq[Bad]) = {
    val wire = ThriftPayload.encode(CollectorPipeline.payloads(env, cfg)).collect().toSeq
    val (fits, oversized) = wire.partition(_.thrift.length < cfg.maxBytes)
    val generic = env.filter(!CollectorPipeline.qsValid(col("querystring")))
      .select(col("event_id"), col("querystring"), octet_length(col("querystring")).cast("long"))
      .collect().toSeq
      .map(r => (r.getLong(0), "GenericError", r.getString(1), r.getLong(2)))
    val size = oversized.map { w =>
      (w.event_id, "SizeViolation",
        ThriftPayload.toStringRepr(ThriftPayload.deserialize(w.thrift)).take(cfg.maxBytes / 10),
        w.thrift.length.toLong)
    }
    (fits.map(w => (w.event_id, w.partition_key, w.thrift.toSeq)), generic ++ size)
  }

  private def after(env: DataFrame, cfg: CollectorConfig): (Seq[Good], Seq[Bad]) = {
    val routed = CollectorPipeline.route(env, cfg).cache()
    try {
      val good = CollectorPipeline.goodLeg(routed).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq))
      val bad = CollectorPipeline.badLeg(routed, cfg).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      (good, bad)
    } finally routed.unpersist()
  }

  test("route's legs equal encode(payloads) gated at maxBytes and generic ∪ size violations") {
    val env = EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf).cache()
    try {
      Seq(
        "testScale" -> CollectorConfig.testScale,
        "wireRouteScale" -> CollectorConfig.wireRouteScale,
        "bounceScale" -> CollectorConfig.bounceScale).foreach { case (name, cfg) =>
        val (goodBefore, badBefore) = before(env, cfg)
        val (goodAfter, badAfter) = after(env, cfg)
        assert(goodBefore.nonEmpty && badBefore.map(_._2).toSet === Set("GenericError", "SizeViolation"), name)
        assert(bag(goodAfter) === bag(goodBefore), name)
        assert(bag(badAfter) === bag(badBefore), name)
        assert(CollectorPipeline.badRows(env, cfg).count() === badBefore.size, name)
      }
    } finally env.unpersist()
  }

  private def envelopes(rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), HttpEdge.envelopeSchema)

  private def pixel(id: Long, qs: String, cookieSp: String = null, dnt: String = null): Row =
    Row(id, "GET", "/i", "/i" + Option(qs).map("?" + _).getOrElse(""), null, null, "UA/1.0",
      null, "c.example.com", "10.0.0.1", null, null, cookieSp, dnt,
      Seq("Host: c.example.com"), 1700000000000L, qs)

  private def routed(env: DataFrame, cfg: CollectorConfig): Map[Long, Row] =
    CollectorPipeline.route(env, cfg).collect().map(r => r.getAs[Long]("event_id") -> r).toMap

  test("route boundaries: the size gate at maxBytes - 1 and maxBytes, DNT with a " +
    "malformed querystring, a bounced pixel, a null querystring") {
    val cfg = CollectorConfig.testScale
    val one = envelopes(pixel(1, "e=pv", cookieSp = "sp-1"))
    val size = ThriftPayload.encode(CollectorPipeline.payloads(one, cfg)).head().thrift.length

    val fits = routed(one, cfg.copy(maxBytes = size + 1))(1)
    assert(fits.getAs[Boolean]("good"))
    assert(fits.getAs[Array[Byte]]("thrift").length === size)
    assert(fits.getAs[String]("bad_row_type") === null)

    val over = routed(one, cfg.copy(maxBytes = size))(1)
    assert(!over.getAs[Boolean]("good") && over.getAs[Array[Byte]]("thrift") === null)
    assert(over.getAs[String]("bad_row_type") === "SizeViolation")
    assert(over.getAs[Long]("actual_size") === size.toLong)
    assert(over.getAs[String]("reason") === SplitBatch.GetNotSplittable)
    assert(over.getAs[Long]("timestamp_ms") === 1700000000000L)
    assert(over.getAs[String]("payload_prefix") === ThriftPayload.toStringRepr(
      ThriftPayload.deserialize(fits.getAs[Array[Byte]]("thrift"))).take(size / 10))

    // F7 is decided before F1: DNT suppresses a parseable request only
    val dnt = routed(envelopes(
      pixel(2, "e=%%bad&&==", cookieSp = "sp-2", dnt = "true"),
      pixel(3, "e=pv", cookieSp = "sp-3", dnt = "true")), cfg)
    assert(dnt.keySet === Set(2L))
    assert(!dnt(2).getAs[Boolean]("good"))
    assert(dnt(2).getAs[String]("bad_row_type") === "GenericError")
    assert(dnt(2).getAs[String]("payload_prefix") === "e=%%bad&&==")
    assert(dnt(2).getAs[Long]("actual_size") === 11L)

    // F2: a fresh user's pixel bounces (nothing routed); its bounced
    // retry, carrying the marker param, is stored
    val bounce = CollectorConfig.bounceScale
    val bounced = routed(envelopes(
      pixel(4, "e=pv"), pixel(5, s"e=pv&${bounce.bounceParamName}=true")), bounce)
    assert(bounced.keySet === Set(5L) && bounced(5).getAs[Boolean]("good"))

    // a request without a querystring is parseable and routes good
    val noQs = routed(envelopes(pixel(6, null, cookieSp = "sp-6")), cfg)(6)
    assert(noQs.getAs[Boolean]("good"))
    assert(ThriftPayload.deserialize(noQs.getAs[Array[Byte]]("thrift")).querystring === null)
  }

  test("bad leg JSON: badRowsJson's envelope for generic rows and oversized GETs; " +
    "an oversized POST names the live gate and carries its request time") {
    val cfg = CollectorConfig.wireRouteScale
    // the corpus holds no oversized bodiless event at this scale: add one
    val bigGet = envelopes(pixel(1, "e=pv&aid=" + "a" * cfg.maxBytes, cookieSp = "sp-1"))
    def legAndSplit(env: DataFrame) =
      (CollectorPipeline.badLeg(CollectorPipeline.route(env, cfg), cfg)
        .join(env.select(col("event_id"), col("body").isNull.as("bodiless"), col("timestamp_ms")), "event_id")
        .collect().toSeq,
        CollectorPipeline.badRowsJson(env, cfg).collect().toSeq.groupMap(_.getLong(0))(_.getString(1)))
    val env = EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf).cache()
    try {
      val (corpusLeg, corpusSplit) = legAndSplit(env)
      val (getLeg, getSplit) = legAndSplit(bigGet)
      val (whole, posts) = corpusLeg.partition(r =>
        r.getAs[String]("bad_row_type") == "GenericError" || r.getAs[Boolean]("bodiless"))
      assert(whole.map(_.getAs[String]("bad_row_type")).toSet === Set("GenericError") && posts.nonEmpty)
      assert(getLeg.map(r => (r.getAs[String]("bad_row_type"), r.getAs[Boolean]("bodiless"))) ===
        Seq(("SizeViolation", true)))
      (whole.map(_ -> corpusSplit) ++ getLeg.map(_ -> getSplit)).foreach { case (r, split) =>
        assert(split(r.getLong(0)) === Seq(r.getAs[String]("bad_row_json")), r.getLong(0))
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        .withZone(java.time.ZoneOffset.UTC)
      posts.foreach { r =>
        val json = mapper.readTree(r.getAs[String]("bad_row_json"))
        val failure = json.get("data").get("failure")
        assert(json.get("schema").asText === CollectorConfig.SizeViolationSchemaUri)
        assert(failure.get("expectation").asText ===
          "oversized collector payload: " + SplitBatch.PostNotSplit)
        assert(failure.get("actualSizeBytes").asLong === r.getAs[Long]("actual_size"))
        assert(failure.get("timestamp").asText ===
          iso.format(java.time.Instant.ofEpochMilli(r.getAs[Long]("timestamp_ms"))))
        assert(json.get("data").get("payload").asText === r.getAs[String]("payload_prefix"))
      }
    } finally env.unpersist()
  }
}
