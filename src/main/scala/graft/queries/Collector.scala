package graft.queries

import graft.operators.{Bridges, CollectorConfig, CollectorPipeline, SplitBatch, ThriftPayload}
import graft.sources.EventEnvelopeAdapter
import graft.streaming.HttpEdge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Collector-parity query surface (SURVEY §2.2-2.4, §2.8): the reference's
  * per-request pipeline re-expressed as oracle-checkable DataFrame queries
  * over the deterministic envelope stream. The Spark side does the real
  * work (str_to_map, from_json, posexplode, HOF filters, mapPartitions
  * packing); the DuckDB oracle recomputes expected outputs analytically
  * from the same event rows ([[CollectorOracles]]). The response queries
  * (`c_redirect`, `c_cors`, `c_set_cookie`, `c_response`,
  * `c_response_bridge`, `c_bounce`) run the live edge's own decision
  * functions over the envelopes ([[HttpEdge.decide]]).
  */
object Collector {

  type Q = (SparkSession, String) => DataFrame

  private val cfg = CollectorConfig.testScale

  private def env(s: SparkSession, d: String): DataFrame =
    EventEnvelopeAdapter.envelopes(s, d)

  /** The envelope projection itself (scalar columns) — locks the adapter
    * and the oracle's mirror of it to the same values. */
  val cEnvelopes: Q = (s, d) =>
    env(s, d).select("event_id", "method", "path", "raw_uri", "querystring",
      "body", "content_type", "user_agent", "referer", "hostname", "remote_ip",
      "sp_anonymous", "cookie_sp", "cookie_dnt", "timestamp_ms")

  /** P1-P7 + F1/F3/F7: the full CollectorPayload build. */
  val cPayload: Q = (s, d) =>
    // drop the list-typed column: the oracle compares headers_str
    CollectorPipeline.payloads(env(s, d), cfg).drop("headers")

  /** P3: str_to_map param extraction on parseable querystrings. */
  val cQsParams: Q = (s, d) =>
    env(s, d)
      .filter(CollectorPipeline.qsValid(col("querystring")))
      .select(
        col("event_id"),
        CollectorPipeline.qp(col("querystring"), "e").as("e_param"),
        CollectorPipeline.qp(col("querystring"), "aid").as("aid"),
        CollectorPipeline.qp(col("querystring"), "nuid").as("nuid_param"))

  /** F6/F7: bad-row routing with SizeViolation payload truncation. */
  val cBadRows: Q = (s, d) => CollectorPipeline.badRows(env(s, d), cfg)

  /** The reference's SELF-DESCRIBING bad-row envelopes (`badRow.compact`):
    * full iglu generic_error / size_violation JSON, split-aware, under the
    * tighter wireRouteScale cap so every branch of the split decision tree
    * contributes envelopes. */
  val cBadRowsJson: Q = (s, d) =>
    CollectorPipeline.badRowsJson(env(s, d), CollectorConfig.wireRouteScale)

  /** S4/F4 over `/r/...` rows (none when the default redirect is off):
    * the decoded target, whether the allowlist admits it, and the
    * location [[HttpEdge.redirect]] answers (null when rejected). */
  def redirect(env: DataFrame, cfg: CollectorConfig): DataFrame =
    HttpEdge.decide(env, cfg) { r =>
      if (!HttpEdge.isRedirect(r.path) || !cfg.enableDefaultRedirect) None
      else {
        val (target, allowed, location) = HttpEdge.redirect(r, cfg)
        Some((r.eventId, target, allowed, location))
      }
    }.toDF("event_id", "target", "allowed", "location")

  /** S4/F4 under the macro-ENABLED config, so the `${SP_NUID}` fixture
    * slice substitutes (the disabled-verbatim and custom-placeholder
    * behaviors are pinned by the CollectorPipelineSpec reference goldens). */
  val cRedirect: Q = (s, d) => redirect(env(s, d), CollectorConfig.redirectScale)

  /** F2 second pass under the driver oracle: pixel payloads with
    * bounce tracking on — the marker slice must STORE with the configured
    * fallback network user id (reference CollectorServiceSpec:218-240),
    * first-pass bouncing rows are filtered out by the build. */
  val cBounceNuid: Q = (s, d) =>
    CollectorPipeline.payloads(env(s, d), CollectorConfig.bounceScale)
      .filter(col("path").isin("/i", "/ice.png"))
      .select(col("event_id"), col("network_userid"))

  /** F5: every row's CORS decision ([[HttpEdge.cors]]) and the status
    * its preflight answers. */
  def cors(env: DataFrame, cfg: CollectorConfig): DataFrame =
    HttpEdge.decide(env, cfg) { r =>
      val (allowed, allowOrigin) = HttpEdge.cors(r, cfg)
      Some((r.eventId, r.origin, r.origin.map(HttpEdge.originHost), allowed, allowOrigin,
        HttpEdge.preflightStatus(allowed)))
    }.toDF("event_id", "origin", "origin_host", "allowed", "allow_origin", "preflight_status")

  /** P9: every row's Set-Cookie header ([[HttpEdge.setCookieHeader]]),
    * null when suppressed. */
  def setCookie(env: DataFrame, cfg: CollectorConfig): DataFrame =
    HttpEdge.decide(env, cfg) { r =>
      val header = HttpEdge.setCookieHeader(r, cfg)
      Some((r.eventId, header.isDefined, header))
    }.toDF("event_id", "emitted", "set_cookie")

  /** Every row's response kind ([[HttpEdge.responseKind]]: pixel GIF /
    * 302 / 400 / 404 / bridge json / ok). */
  def response(env: DataFrame, cfg: CollectorConfig): DataFrame =
    HttpEdge.decide(env, cfg)(r => Some((r.eventId, HttpEdge.responseKind(r, cfg))))
      .toDF("event_id", "response_kind")

  /** F2 over pixel-expected, non-redirect rows: whether the request
    * bounces and the Location [[HttpEdge.bounceLocation]] answers. */
  def bounce(env: DataFrame, cfg: CollectorConfig): DataFrame =
    HttpEdge.decide(env, cfg) { r =>
      if (!HttpEdge.pixelExpected(r) || HttpEdge.isRedirect(r.path)) None
      else {
        val location = HttpEdge.bounceLocation(r, cfg)
        Some((r.eventId, location.isDefined, location))
      }
    }.toDF("event_id", "bounced", "location")

  /** F5 under the whitelisting config. */
  val cCors: Q = (s, d) => cors(env(s, d), CollectorConfig.corsScale)

  /** P9 under the cookie-domain config. */
  val cSetCookie: Q = (s, d) => setCookie(env(s, d), CollectorConfig.cookieScale)

  /** Response kinds under testScale (both bridges disabled). */
  val cResponse: Q = (s, d) => response(env(s, d), cfg)

  /** R10: response kinds under ENABLED bridges — the POST bridge rows
    * answer the reference's jsonResponse. */
  val cResponseBridge: Q = (s, d) => response(env(s, d), CollectorConfig.bridgesScale)

  /** F2 under a bounce-enabled config. */
  val cBounce: Q = (s, d) => bounce(env(s, d), CollectorConfig.bounceScale)

  /** P5 distributional check: events per partition key. */
  val cPartitionCounts: Q = (s, d) =>
    env(s, d)
      .groupBy(CollectorPipeline.partitionKey(cfg).as("partition_key"))
      .agg(count(lit(1)).as("n"))

  /** tp2 body explode (from_json + posexplode). */
  val cTp2Events: Q = (s, d) => Bridges.tp2Events(env(s, d))

  /** Amplitude bridge explode incl. $remote IP substitution. */
  val cAmplitude: Q = (s, d) => Bridges.amplitudeEvents(env(s, d))

  /** P10: Segment analytics.js bridge — full tracker-payload projection
    * with base64 unstruct envelope, oracle-checked end to end. No ajs
    * cookies in the envelope stream: uid falls back to body.userId. */
  val cSegment: Q = (s, d) =>
    Bridges.analyticsJsEvents(
      env(s, d)
        .filter(CollectorPipeline.isSegment)
        .withColumn("network_userid", CollectorPipeline.networkUserId)
        .withColumn("ajs_user_id", lit(null).cast("string"))
        .withColumn("ajs_anonymous_id", lit(null).cast("string")))

  /** S5 route concatenation: all tracker routes normalized into one hit
    * stream — single-scan CaseWhen dispatch ([[Bridges.unifiedEvents]]);
    * the unionByName formulation read the source once per route arm. */
  val cUnifiedEvents: Q = (s, d) => Bridges.unifiedEvents(env(s, d))

  /** A1/A2: greedy size-capped split of tp2 bodies (typed mapPartitions). */
  val cSplitBatches: Q = (s, d) =>
    SplitBatch.splitTp2(env(s, d), CollectorConfig.SplitMaxBytes).toDF()

  /** A2+F6 unified: the reference's full splitAndSerializePayload
    * disposition (good / split into n sub-records / bad with reason),
    * under the tighter wireRouteScale cap so every branch fires. */
  val cWireRoute: Q = (s, d) =>
    SplitBatch.routeWire(
      CollectorPipeline.payloads(env(s, d), CollectorConfig.wireRouteScale),
      CollectorConfig.wireRouteScale.maxBytes).toDF()

  /** P14: thrift wire encoding of the good payload stream, projected to
    * its DuckDB-expressible shadow: the REAL serializer runs and the
    * oracle checks every payload's exact TBinaryProtocol byte count +
    * partition key (raw bytes themselves aren't SQL-expressible; the
    * field-level round trip is `c_thrift_roundtrip`). */
  val cThriftWire: Q = (s, d) =>
    ThriftPayload.encode(CollectorPipeline.payloads(env(s, d), cfg))
      .toDF()
      .select(col("event_id"), col("partition_key"),
        length(col("thrift")).cast("long").as("thrift_bytes"))

  /** P14 under the FULL oracle: encode every payload to wire bytes, decode
    * them back, and hash-compare the decoded fields against the
    * analytically-computed expectation — the binary format itself becomes
    * oracle-checkable even though DuckDB can't read thrift. */
  val cThriftRoundtrip: Q = (s, d) =>
    ThriftPayload.decode(
      ThriftPayload.encode(CollectorPipeline.payloads(env(s, d), cfg))).toDF()

  val all: Map[String, Q] = Map(
    "c_envelopes" -> cEnvelopes,
    "c_payload" -> cPayload,
    "c_qs_params" -> cQsParams,
    "c_bad_rows" -> cBadRows,
    "c_bad_rows_json" -> cBadRowsJson,
    "c_redirect" -> cRedirect,
    "c_cors" -> cCors,
    "c_set_cookie" -> cSetCookie,
    "c_response" -> cResponse,
    "c_response_bridge" -> cResponseBridge,
    "c_bounce" -> cBounce,
    "c_bounce_nuid" -> cBounceNuid,
    "c_partition_counts" -> cPartitionCounts,
    "c_tp2_events" -> cTp2Events,
    "c_amplitude" -> cAmplitude,
    "c_segment" -> cSegment,
    "c_unified_events" -> cUnifiedEvents,
    "c_split_batches" -> cSplitBatches,
    "c_wire_route" -> cWireRoute,
    "c_thrift_wire" -> cThriftWire,
    "c_thrift_roundtrip" -> cThriftRoundtrip,
  )
}
