package graft.queries

import graft.operators.SplitBatch

/** DuckDB oracles for [[Collector]].
  *
  * The envelope stream is a pure function of the `events` table
  * ([[graft.sources.EventEnvelopeAdapter]]), so each oracle recomputes the
  * expected output *analytically* from the raw event columns — no JSON
  * functions needed DuckDB-side, while the Spark queries must do the real
  * parsing/explode work. The `env`/`env2` CTEs below are the SQL mirror of
  * the adapter; keep the two in lockstep.
  */
object CollectorOracles {

  /** md5-derived deterministic UUID — mirror of CollectorPipeline.uuidify. */
  private def uu(e: String): String =
    s"substr(md5($e),1,8) || '-' || substr(md5($e),9,4) || '-' || " +
      s"substr(md5($e),13,4) || '-' || substr(md5($e),17,4) || '-' || substr(md5($e),21,12)"

  private val NilUuid = "00000000-0000-0000-0000-000000000000"
  /** The bad-row message of each decision-tree `kind` — the operator's own
    * reason strings (SplitBatchSpec pins them to the reference's text). */
  private val SplitReason =
    s"""CASE kind WHEN 'get' THEN '${SplitBatch.GetNotSplittable}'
       |  WHEN 'notsd' THEN '${SplitBatch.NotSelfDescribing}'
       |  WHEN 'stripped' THEN '${SplitBatch.StrippedTooBig}'
       |  WHEN 'allbig' THEN '${SplitBatch.SplitTooLarge}' END""".stripMargin

  /** Wire-route cap — single source of truth with the Spark query. */
  private val WireMax = graft.operators.CollectorConfig.wireRouteScale.maxBytes
  private val Tp2Prefix =
    """{"schema":"iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4","data":["""

  /** One tp2 tracker element, exactly as the adapter concatenates it. */
  private def tp2Elem(idx: String): String =
    s"""'{"e":"' || event_type || '","aid":"app' || (user_id % 5) || '","idx":' || $idx || ',"p":' || props || '}'"""

  /** Same element after a JSON parse→re-serialize round trip (Jackson drops
    * the space in `{"k": N}`). Used for split-batch size arithmetic. */
  private def tp2ElemNorm(idx: String): String =
    s"""'{"e":"' || event_type || '","aid":"app' || (user_id % 5) || '","idx":' || $idx || ',"p":' || replace(props, ' ', '') || '}'"""

  private def ampElem(idx: String): String =
    s"""'{"device_id":"d' || user_id || '","event_type":"' || event_type || '","time":' || timestamp_ms || ',"ip":"' || (CASE WHEN event_id % 2 = ($idx) % 2 THEN '$$remote' ELSE '1.2.3.4' END) || '"}'"""

  private val tp2Body =
    s"""'$Tp2Prefix' || ${tp2Elem("0")} ||""" +
      s""" CASE WHEN n_elems >= 2 THEN ',' || ${tp2Elem("1")} ELSE '' END ||""" +
      s""" CASE WHEN n_elems >= 3 THEN ',' || ${tp2Elem("2")} ELSE '' END || ']}'"""

  private val ampBody =
    s"""'{"api_key":"test-key","events":[' || ${ampElem("0")} ||""" +
      s""" CASE WHEN n_elems >= 2 THEN ',' || ${ampElem("1")} ELSE '' END ||""" +
      s""" CASE WHEN n_elems >= 3 THEN ',' || ${ampElem("2")} ELSE '' END || ']}'"""

  private val segBody =
    """'{"type":"track","userId":"u' || user_id || '","properties":{"url":"https://site' || (user_id % 5) || '.example.com/p' || (event_id % 7) || '","page":"P' || (event_id % 9) || '"},"context":{"locale":"en-US","timezone":"UTC","library":{"name":"analytics.js","version":"4.1.' || (user_id % 3) || '"}}}'"""

  /** SQL mirror of the envelope adapter. */
  private val Env =
    s"""WITH env AS (
       |  SELECT event_id, user_id, event_type, props,
       |    event_id % 20 AS m,
       |    epoch_ms(CAST(ts AS TIMESTAMP)) AS timestamp_ms,
       |    -- P2 raw-URI slices: %19=0 → no '?' (querystring NULL),
       |    -- %29=0 → bare '?' (querystring ''); neither can be qs_bad
       |    (event_id % 19 <> 0 AND event_id % 29 <> 0) AS has_qs,
       |    (event_id % 17 = 0 AND event_id % 19 <> 0 AND event_id % 29 <> 0) AS qs_bad,
       |    (event_id % 11 = 0) AS anon,
       |    (event_id % 13 = 0) AS dnt,
       |    1 + (event_id % 3) AS n_elems,
       |    CASE WHEN event_id % 7 = 0 THEN NULL
       |         ELSE '10.' || (user_id % 250) || '.0.' || (event_id % 250) END AS remote_ip,
       |    CASE WHEN user_id % 4 <> 0 THEN ${uu("'sp' || user_id")} ELSE NULL END AS cookie_sp,
       |    'Mozilla/5.0 (agent ' || (user_id % 10) || ')' AS user_agent,
       |    CASE WHEN event_id % 5 = 0
       |         THEN 'https://referrer.example.com/p' || (event_id % 50) ELSE NULL END AS referer,
       |    'collector-' || (user_id % 3) || '.example.com' AS hostname,
       |    CASE WHEN event_id % 6 = 0 THEN NULL
       |         WHEN event_id % 6 = 1 THEN 'https://sub' || (user_id % 3) || '.allowed.example.com'
       |         WHEN event_id % 6 = 2 THEN 'https://allowed.example.com'
       |         WHEN event_id % 6 = 3 THEN 'https://partner.io'
       |         WHEN event_id % 6 = 4 THEN 'https://api.partner.io'
       |         WHEN user_id % 2 = 0 THEN 'https://notallowed.example.com'
       |         ELSE 'https://evil.example.net' END AS origin
       |  FROM events
       |),
       |env2 AS (
       |  SELECT *,
       |    CASE WHEN m <= 11 THEN '/com.snowplowanalytics.snowplow/tp2'
       |         WHEN m <= 14 THEN '/i'
       |         WHEN m = 15 THEN '/ice.png'
       |         WHEN m = 16 THEN '/r/tp2'
       |         WHEN m <= 18 THEN '/com.acme/track'
       |         WHEN user_id % 2 = 0 THEN '/com.amplitude/2/httpapi'
       |         ELSE '/com.segment/v1/t' END AS path,
       |    CASE WHEN m <= 11 OR m >= 17 THEN 'POST' ELSE 'GET' END AS method,
       |    CASE WHEN event_id % 19 = 0 THEN NULL
       |         WHEN event_id % 29 = 0 THEN ''
       |         WHEN qs_bad THEN 'e=%%bad&&=='
       |         ELSE 'e=' || event_type || '&aid=app' || (user_id % 5) ||
       |           CASE WHEN event_id % 3 = 0 THEN '&nuid=' || ${uu("'nuid' || user_id")} ELSE '' END ||
       |           CASE WHEN m = 16 THEN '&u=https%3A%2F%2Fdest' || (user_id % 10) ||
       |                CASE WHEN user_id % 10 = 0 THEN '.example.org' ELSE '.example.com' END ||
       |                '%2Flanding' ||
       |                CASE WHEN event_id % 31 = 0 THEN '%3Fuid%3D%24%7BSP_NUID%7D' ELSE '' END
       |           ELSE '' END ||
       |           CASE WHEN m BETWEEN 12 AND 15 AND event_id % 37 = 0 THEN '&n=1' ELSE '' END
       |         END AS querystring,
       |    CASE WHEN event_id % 19 = 0 THEN path
       |         WHEN event_id % 29 = 0 THEN path || '?'
       |         ELSE path || '?' || querystring ||
       |           CASE WHEN event_id % 23 = 0 THEN '#s2' ELSE '' END
       |         END AS raw_uri,
       |    CASE WHEN m <= 11 OR m BETWEEN 17 AND 18 THEN $tp2Body
       |         WHEN m = 19 AND user_id % 2 = 0 THEN $ampBody
       |         WHEN m = 19 THEN $segBody
       |         ELSE NULL END AS body,
       |    CASE WHEN m <= 11 OR m >= 17 THEN 'application/json' ELSE NULL END AS content_type
       |  FROM env
       |)""".stripMargin

  /** Shared payload + exact-wire-size CTEs (mirror of
    * CollectorPipeline.payloads and ThriftPayload's TBinaryProtocol size
    * formula) — used by c_bad_rows and c_wire_route. Carries m / n_elems /
    * elem_size so the wire-route oracle can redo the split arithmetic
    * (all of one request's tracker elements serialize to the same length,
    * so greedy packing reduces to capacity division — same trick as
    * c_split_batches). */
  private lazy val PaySized =
    s"""pay AS (
       |  SELECT event_id, timestamp_ms, user_agent, referer, querystring,
       |    body, content_type, hostname, m, n_elems,
       |    strlen(${tp2ElemNorm("0")}) AS elem_size,
       |    'iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0' AS schema_uri,
       |    CASE WHEN anon THEN 'unknown' ELSE coalesce(remote_ip, 'unknown') END AS ip,
       |    CASE WHEN path = '/com.acme/track' THEN '/com.snowplowanalytics.snowplow/tp2'
       |         WHEN path = '/com.acme/redirect' THEN '/r/tp2'
       |         WHEN path = '/com.acme/iglu' THEN '/com.snowplowanalytics.iglu/v1'
       |         ELSE path END AS rpath,
       |    CASE WHEN anon THEN '$NilUuid'
       |         ELSE coalesce(
       |           CASE WHEN event_id % 3 = 0 AND has_qs THEN ${uu("'nuid' || user_id")} END,
       |           cookie_sp,
       |           ${uu("'nuid-gen' || event_id")}) END AS nuid,
       |    CASE WHEN NOT anon AND remote_ip IS NOT NULL THEN remote_ip
       |         ELSE ${uu("'pk' || event_id")} END AS partition_key,
       |    concat_ws(', ',
       |      'Host: ' || hostname,
       |      'User-Agent: ' || user_agent,
       |      CASE WHEN referer IS NOT NULL THEN 'Referer: ' || referer END,
       |      CASE WHEN remote_ip IS NOT NULL AND NOT anon THEN 'X-Forwarded-For: ' || remote_ip END,
       |      CASE WHEN cookie_sp IS NOT NULL AND NOT anon THEN 'Cookie: sp=' || cookie_sp END,
       |      content_type) AS headers_join,
       |    (2 + CASE WHEN referer IS NOT NULL THEN 1 ELSE 0 END
       |       + CASE WHEN remote_ip IS NOT NULL AND NOT anon THEN 1 ELSE 0 END
       |       + CASE WHEN cookie_sp IS NOT NULL AND NOT anon THEN 1 ELSE 0 END
       |       + CASE WHEN content_type IS NOT NULL THEN 1 ELSE 0 END) AS n_headers
       |  FROM env2 WHERE NOT dnt AND NOT qs_bad
       |),
       |sized AS (
       |  SELECT *,
       |    12 + 7 + strlen(schema_uri) + 7 + strlen(ip) + 7 + 5
       |    + 7 + strlen('graft-0.1.0-spark')
       |    + 7 + strlen(user_agent)
       |    + CASE WHEN referer IS NOT NULL THEN 7 + strlen(referer) ELSE 0 END
       |    + 7 + strlen(rpath)
       |    + CASE WHEN querystring IS NOT NULL THEN 7 + strlen(querystring) ELSE 0 END
       |    + CASE WHEN body IS NOT NULL THEN 7 + strlen(body) ELSE 0 END
       |    + CASE WHEN content_type IS NOT NULL THEN 7 + strlen(content_type) ELSE 0 END
       |    + 7 + strlen(hostname) + 7 + strlen(nuid)
       |    + 8 + 4 * n_headers + strlen(headers_join) - 2 * (n_headers - 1) AS wire_size
       |  FROM pay
       |)""".stripMargin

  /** Mirror of CollectorPipeline.corsDecisions host matching under the
    * corsScale config (`*.allowed.example.com`, `partner.io`); `h` must be
    * the origin-host expression. LIKE keeps the dotted-suffix semantics
    * (no regex metacharacters in the fixture domains). */
  private def corsHostAllowed(h: String): String =
    s"($h LIKE '%.allowed.example.com' OR $h = 'allowed.example.com' OR " +
      s"$h = 'partner.io' OR $h LIKE '%.partner.io')"

  private val redirectTarget =
    "'https://dest' || (user_id % 10) || " +
      "CASE WHEN user_id % 10 = 0 THEN '.example.org' ELSE '.example.com' END || '/landing'"

  val all: Map[String, String] = Map(
    "c_envelopes" ->
      s"""$Env
         |SELECT event_id, method, path, raw_uri, querystring, body, content_type,
         |  user_agent, referer, hostname, remote_ip,
         |  CASE WHEN anon THEN '*' END AS sp_anonymous,
         |  cookie_sp,
         |  CASE WHEN dnt THEN 'true' END AS cookie_dnt,
         |  timestamp_ms
         |FROM env2""".stripMargin,

    "c_payload" ->
      s"""$Env
         |SELECT event_id,
         |  'iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0' AS schema_uri,
         |  CASE WHEN anon THEN 'unknown' ELSE coalesce(remote_ip, 'unknown') END AS ip,
         |  timestamp_ms,
         |  'UTF-8' AS encoding,
         |  'graft-0.1.0-spark' AS collector,
         |  querystring,
         |  body,
         |  CASE WHEN path = '/com.acme/track' THEN '/com.snowplowanalytics.snowplow/tp2'
         |       WHEN path = '/com.acme/redirect' THEN '/r/tp2'
         |       WHEN path = '/com.acme/iglu' THEN '/com.snowplowanalytics.iglu/v1'
         |       ELSE path END AS path,
         |  user_agent,
         |  referer AS referer_uri,
         |  hostname,
         |  CASE WHEN anon THEN '$NilUuid'
         |       ELSE coalesce(
         |         CASE WHEN event_id % 3 = 0 AND has_qs THEN ${uu("'nuid' || user_id")} END,
         |         cookie_sp,
         |         ${uu("'nuid-gen' || event_id")}) END AS network_userid,
         |  content_type,
         |  CASE WHEN NOT anon AND remote_ip IS NOT NULL THEN remote_ip
         |       ELSE ${uu("'pk' || event_id")} END AS partition_key,
         |  concat_ws('|',
         |    'Host: ' || hostname,
         |    'User-Agent: ' || user_agent,
         |    CASE WHEN referer IS NOT NULL THEN 'Referer: ' || referer END,
         |    CASE WHEN remote_ip IS NOT NULL AND NOT anon THEN 'X-Forwarded-For: ' || remote_ip END,
         |    CASE WHEN cookie_sp IS NOT NULL AND NOT anon THEN 'Cookie: sp=' || cookie_sp END,
         |    content_type) AS headers_str
         |FROM env2 WHERE NOT dnt AND NOT qs_bad""".stripMargin,

    // P14 round trip: the DECODED wire fields must equal the analytic
    // payload expectation — same projection as c_payload minus the
    // partition key (not a thrift field)
    "c_thrift_roundtrip" ->
      s"""$Env
         |SELECT event_id,
         |  'iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0' AS schema_uri,
         |  CASE WHEN anon THEN 'unknown' ELSE coalesce(remote_ip, 'unknown') END AS ip,
         |  timestamp_ms,
         |  'UTF-8' AS encoding,
         |  'graft-0.1.0-spark' AS collector,
         |  querystring,
         |  body,
         |  CASE WHEN path = '/com.acme/track' THEN '/com.snowplowanalytics.snowplow/tp2'
         |       WHEN path = '/com.acme/redirect' THEN '/r/tp2'
         |       WHEN path = '/com.acme/iglu' THEN '/com.snowplowanalytics.iglu/v1'
         |       ELSE path END AS path,
         |  user_agent,
         |  referer AS referer_uri,
         |  hostname,
         |  CASE WHEN anon THEN '$NilUuid'
         |       ELSE coalesce(
         |         CASE WHEN event_id % 3 = 0 AND has_qs THEN ${uu("'nuid' || user_id")} END,
         |         cookie_sp,
         |         ${uu("'nuid-gen' || event_id")}) END AS network_userid,
         |  content_type,
         |  concat_ws('|',
         |    'Host: ' || hostname,
         |    'User-Agent: ' || user_agent,
         |    CASE WHEN referer IS NOT NULL THEN 'Referer: ' || referer END,
         |    CASE WHEN remote_ip IS NOT NULL AND NOT anon THEN 'X-Forwarded-For: ' || remote_ip END,
         |    CASE WHEN cookie_sp IS NOT NULL AND NOT anon THEN 'Cookie: sp=' || cookie_sp END,
         |    content_type) AS headers_str
         |FROM env2 WHERE NOT dnt AND NOT qs_bad""".stripMargin,

    // P14 wire projection: the exact TBinaryProtocol byte count per payload
    // (the `sized` formula, byte-parity-asserted against the serializer in
    // SplitBatchSpec and already gating c_bad_rows/c_wire_route) plus the
    // partition key — the binary stream's DuckDB-expressible shadow.
    "c_thrift_wire" ->
      s"""$Env,
         |$PaySized
         |SELECT event_id, partition_key,
         |  CAST(wire_size AS BIGINT) AS thrift_bytes
         |FROM sized""".stripMargin,

    "c_qs_params" ->
      s"""$Env
         |SELECT event_id,
         |  CASE WHEN has_qs THEN event_type END AS e_param,
         |  CASE WHEN has_qs THEN 'app' || (user_id % 5) END AS aid,
         |  CASE WHEN event_id % 3 = 0 AND has_qs THEN ${uu("'nuid' || user_id")} END AS nuid_param
         |FROM env2 WHERE NOT qs_bad""".stripMargin,

    // SizeViolation mirrors the reference exactly (SplitBatch.scala:81-145):
    // gate + actual_size = serialized thrift size (3+4+len per set string
    // field, 11 for the i64, 8+Σ(4+len) for headers, 1 stop), prefix =
    // maxBytes/10 chars of the thrift toString() rendering.
    "c_bad_rows" ->
      s"""$Env,
         |$PaySized
         |SELECT event_id, 'GenericError' AS bad_row_type,
         |  querystring AS payload_prefix,
         |  CAST(strlen(querystring) AS BIGINT) AS actual_size
         |FROM env2 WHERE qs_bad
         |UNION ALL
         |SELECT event_id, 'SizeViolation' AS bad_row_type,
         |  substr('CollectorPayload(schema:' || schema_uri
         |    || ', ipAddress:' || ip || ', timestamp:' || timestamp_ms
         |    || ', encoding:UTF-8, collector:graft-0.1.0-spark'
         |    || ', userAgent:' || user_agent
         |    || CASE WHEN referer IS NOT NULL THEN ', refererUri:' || referer ELSE '' END
         |    || ', path:' || rpath
         |    || CASE WHEN querystring IS NOT NULL THEN ', querystring:' || querystring ELSE '' END
         |    || CASE WHEN body IS NOT NULL THEN ', body:' || body ELSE '' END
         |    || ', headers:[' || headers_join || ']'
         |    || CASE WHEN content_type IS NOT NULL THEN ', contentType:' || content_type ELSE '' END
         |    || ', hostname:' || hostname || ', networkUserId:' || nuid || ')',
         |    1, 80) AS payload_prefix,
         |  CAST(wire_size AS BIGINT) AS actual_size
         |FROM sized WHERE wire_size >= 800""".stripMargin,

    // the self-describing envelopes: generic_error for unparseable
    // querystrings, size_violation per bad row of the split decision tree
    // (unsplittable branches 1×whole wire size; 'allbig' n_elems rows of
    // the element size — fixture elements are uniform so the lateral
    // UNNEST(range(n_elems)) reproduces the per-element stream exactly)
    "c_bad_rows_json" ->
      s"""$Env,
         |$PaySized,
         |rr AS (
         |  SELECT *, (m <= 11 OR m BETWEEN 17 AND 18) AS is_tp2,
         |    n_elems * elem_size + (n_elems - 1) + 2 AS data_bytes
         |  FROM sized),
         |dd AS (
         |  SELECT *,
         |    CASE
         |      WHEN wire_size < $WireMax THEN 'good'
         |      WHEN body IS NULL THEN 'get'
         |      WHEN NOT is_tp2 THEN 'notsd'
         |      WHEN wire_size - data_bytes >= $WireMax THEN 'stripped'
         |      WHEN elem_size > $WireMax - wire_size + data_bytes THEN 'allbig'
         |      ELSE 'split' END AS kind,
         |    substr('CollectorPayload(schema:' || schema_uri
         |      || ', ipAddress:' || ip || ', timestamp:' || timestamp_ms
         |      || ', encoding:UTF-8, collector:graft-0.1.0-spark'
         |      || ', userAgent:' || user_agent
         |      || CASE WHEN referer IS NOT NULL THEN ', refererUri:' || referer ELSE '' END
         |      || ', path:' || rpath
         |      || CASE WHEN querystring IS NOT NULL THEN ', querystring:' || querystring ELSE '' END
         |      || CASE WHEN body IS NOT NULL THEN ', body:' || body ELSE '' END
         |      || ', headers:[' || headers_join || ']'
         |      || CASE WHEN content_type IS NOT NULL THEN ', contentType:' || content_type ELSE '' END
         |      || ', hostname:' || hostname || ', networkUserId:' || nuid || ')',
         |      1, ${WireMax / 10}) AS payload_prefix
         |  FROM rr),
         |bb AS (
         |  SELECT event_id, timestamp_ms, payload_prefix,
         |    $SplitReason AS reason,
         |    wire_size AS actual_size
         |  FROM dd WHERE kind IN ('get', 'notsd', 'stripped')
         |  UNION ALL
         |  SELECT event_id, timestamp_ms, payload_prefix,
         |    '${SplitBatch.SplitTooLarge}' AS reason,
         |    elem_size AS actual_size
         |  FROM dd, UNNEST(range(n_elems)) AS t(u) WHERE kind = 'allbig')
         |SELECT event_id,
         |  CAST(json_object('schema',
         |    'iglu:com.snowplowanalytics.snowplow.badrows/generic_error/jsonschema/1-0-0',
         |    'data', json_object(
         |      'processor', json_object('artifact', 'graft', 'version', '0.1.0'),
         |      'failure', json_object(
         |        'timestamp', strftime(make_timestamp(timestamp_ms * 1000), '%Y-%m-%dT%H:%M:%S.%gZ'),
         |        'errors', ['querystring is not parseable']),
         |      'payload', coalesce(querystring, ''))) AS VARCHAR) AS bad_row_json
         |FROM env2 WHERE qs_bad
         |UNION ALL
         |SELECT event_id,
         |  CAST(json_object('schema',
         |    'iglu:com.snowplowanalytics.snowplow.badrows/size_violation/jsonschema/1-0-0',
         |    'data', json_object(
         |      'processor', json_object('artifact', 'graft', 'version', '0.1.0'),
         |      'failure', json_object(
         |        'timestamp', strftime(make_timestamp(timestamp_ms * 1000), '%Y-%m-%dT%H:%M:%S.%gZ'),
         |        'maximumAllowedSizeBytes', $WireMax,
         |        'actualSizeBytes', CAST(actual_size AS INT),
         |        'expectation', 'oversized collector payload: ' || reason),
         |      'payload', payload_prefix)) AS VARCHAR) AS bad_row_json
         |FROM bb""".stripMargin,

    "c_redirect" ->
      s"""$Env
         |SELECT event_id,
         |  CASE WHEN NOT qs_bad AND has_qs THEN $redirectTarget ||
         |    CASE WHEN event_id % 31 = 0 THEN '?uid=' || chr(36) || '{SP_NUID}' ELSE '' END
         |  END AS target,
         |  (NOT qs_bad AND has_qs AND user_id % 10 <> 0) AS allowed,
         |  CASE WHEN NOT qs_bad AND has_qs AND user_id % 10 <> 0
         |       THEN 'https://dest' || (user_id % 10) || '.example.com/landing' ||
         |         CASE WHEN event_id % 31 = 0 THEN '?uid=' ||
         |           CASE WHEN anon THEN '$NilUuid'
         |                ELSE coalesce(
         |                  CASE WHEN event_id % 3 = 0 THEN ${uu("'nuid' || user_id")} END,
         |                  cookie_sp, ${uu("'nuid-gen' || event_id")}) END
         |         ELSE '' END
         |       END AS location
         |FROM env2 WHERE m = 16""".stripMargin,

    "c_cors" ->
      s"""$Env,
         |cors AS (
         |  SELECT event_id, origin,
         |    regexp_replace(origin, '^https?://', '') AS origin_host
         |  FROM env2),
         |dec AS (
         |  SELECT *,
         |    (origin IS NULL OR ${corsHostAllowed("origin_host")}) AS allowed
         |  FROM cors)
         |SELECT event_id, origin, origin_host, allowed,
         |  CASE WHEN origin IS NULL THEN '*'
         |       WHEN allowed THEN origin END AS allow_origin,
         |  CASE WHEN allowed THEN 200 ELSE 403 END AS preflight_status
         |FROM dec""".stripMargin,

    // P9 mirror: nuid precedence (query param > sp cookie > generated),
    // P8 domain resolution over the Origin host, cookieScale constants
    // (365d expiry, Secure + SameSite=None, fallback.example.com).
    "c_set_cookie" ->
      s"""$Env,
         |ck AS (
         |  SELECT event_id, dnt, anon, timestamp_ms,
         |    COALESCE(CASE WHEN NOT qs_bad AND has_qs AND event_id % 3 = 0 THEN ${uu("'nuid' || user_id")} END,
         |             cookie_sp, ${uu("'nuid-gen' || event_id")}) AS nuid,
         |    regexp_replace(origin, '^https?://', '') AS oh
         |  FROM env2)
         |SELECT event_id, (NOT dnt AND NOT anon) AS emitted,
         |  CASE WHEN NOT dnt AND NOT anon THEN
         |    'sp=' || nuid || '; Expires=' ||
         |    strftime(make_timestamp((timestamp_ms + 31536000000) * 1000),
         |             '%a, %d %b %Y %H:%M:%S GMT') ||
         |    '; Domain=' ||
         |    CASE WHEN oh = 'allowed.example.com' OR oh LIKE '%.allowed.example.com' THEN 'allowed.example.com'
         |         WHEN oh = 'partner.io' OR oh LIKE '%.partner.io' THEN 'partner.io'
         |         ELSE 'fallback.example.com' END ||
         |    '; Path=/; Secure; SameSite=None'
         |  END AS set_cookie
         |FROM ck""".stripMargin,

    // Mirror of SplitBatch.routeWire: the reference's full
    // splitAndSerializePayload disposition. All of one request's elements
    // serialize to equal length, so the greedy pack reduces to capacity
    // division (cap = 1 + (budget - s) // (s + 1), first element costs s,
    // each next s+1 — exactly SplitBatch.pack with base=0, join=1).
    "c_wire_route" ->
      s"""$Env,
         |$PaySized,
         |r AS (
         |  SELECT event_id, wire_size, body, n_elems, elem_size,
         |    (m <= 11 OR m BETWEEN 17 AND 18) AS is_tp2,
         |    n_elems * elem_size + (n_elems - 1) + 2 AS data_bytes
         |  FROM sized),
         |d AS (
         |  SELECT *,
         |    $WireMax - wire_size + data_bytes AS budget,
         |    CASE
         |      WHEN wire_size < $WireMax THEN 'good'
         |      WHEN body IS NULL THEN 'get'
         |      WHEN NOT is_tp2 THEN 'notsd'
         |      WHEN wire_size - data_bytes >= $WireMax THEN 'stripped'
         |      WHEN elem_size > $WireMax - wire_size + data_bytes THEN 'allbig'
         |      ELSE 'split' END AS kind
         |  FROM r),
         |f AS (
         |  SELECT *,
         |    CASE WHEN kind = 'split'
         |         THEN 1 + (budget - elem_size) // (elem_size + 1) END AS cap
         |  FROM d)
         |SELECT event_id,
         |  CASE WHEN kind = 'good' THEN 'good'
         |       WHEN kind = 'split' THEN 'split' ELSE 'bad' END AS disposition,
         |  CAST(CASE WHEN kind = 'good' THEN 1
         |            WHEN kind = 'split' THEN (n_elems + cap - 1) // cap
         |            ELSE 0 END AS INT) AS n_good,
         |  CAST(CASE WHEN kind = 'good' OR kind = 'split' THEN 0
         |            WHEN kind = 'allbig' THEN n_elems
         |            ELSE 1 END AS INT) AS n_bad,
         |  $SplitReason AS reason
         |FROM f""".stripMargin,

    "c_response" ->
      s"""$Env
         |SELECT event_id,
         |  CASE WHEN path IN ('/i', '/ice.png') THEN 'gif'
         |       WHEN m = 16 AND NOT qs_bad AND has_qs AND user_id % 10 <> 0 THEN '302'
         |       WHEN m = 16 THEN '400'
         |       -- r10 method/gate-aware: the m=19 bridge rows are POSTs
         |       -- and testScale ships both bridges DISABLED, so they
         |       -- answer the plain vendor-route 'ok' (reference: a
         |       -- disabled bridge's 3-segment path falls through); the
         |       -- only GET/HEAD fixture rows are the pixel/redirect arms
         |       -- already matched above
         |       ELSE 'ok' END AS response_kind
         |FROM env2""".stripMargin,

    // r10: same projection under CollectorConfig.bridgesScale
    "c_response_bridge" ->
      s"""$Env
         |SELECT event_id,
         |  CASE WHEN path IN ('/i', '/ice.png') THEN 'gif'
         |       WHEN m = 16 AND NOT qs_bad AND has_qs AND user_id % 10 <> 0 THEN '302'
         |       WHEN m = 16 THEN '400'
         |       -- bridges ENABLED: the m=19 POSTs hit the exact bridge
         |       -- shapes (/com.amplitude/2/httpapi, /com.segment/v1/t)
         |       -- and answer the reference jsonResponse
         |       WHEN m = 19 THEN 'json'
         |       ELSE 'ok' END AS response_kind
         |FROM env2""".stripMargin,

    "c_bounce" ->
      s"""$Env
         |SELECT event_id,
         |  (NOT anon AND NOT qs_bad AND NOT (event_id % 3 = 0 AND has_qs)
         |   AND NOT (event_id % 37 = 0 AND has_qs)
         |   AND user_id % 4 = 0) AS bounced,
         |  CASE WHEN NOT anon AND NOT qs_bad AND NOT (event_id % 3 = 0 AND has_qs)
         |            AND NOT (event_id % 37 = 0 AND has_qs)
         |            AND user_id % 4 = 0
         |       THEN path || '?' ||
         |            CASE WHEN querystring IS NULL OR querystring = ''
         |                 THEN '' ELSE querystring || '&' END || 'n=true'
         |       END AS location
         |-- pixelExpected && !redirect (r10): in this fixture every GET/HEAD
         |-- non-redirect row IS a pixel row, so the widened route set is
         |-- exactly the pixel paths
         |FROM env2
         |WHERE path IN ('/i', '/ice.png')
         |   OR (method IN ('GET', 'HEAD') AND path NOT LIKE '/r/%')""".stripMargin,

    // F2 second pass: pixel payloads under an active bounce config.
    // First-pass bouncing rows (no nuid source, no marker) are EXCLUDED
    // (they were redirected, not stored); the %37 marker slice stores
    // with the configured fallback network user id.
    "c_bounce_nuid" ->
      s"""$Env
         |SELECT event_id,
         |  CASE WHEN anon THEN '$NilUuid'
         |       ELSE coalesce(
         |         CASE WHEN event_id % 3 = 0 AND has_qs THEN ${uu("'nuid' || user_id")} END,
         |         cookie_sp,
         |         CASE WHEN event_id % 37 = 0 AND has_qs
         |              THEN '00000000-0000-4000-A000-000000000000'
         |              ELSE ${uu("'nuid-gen' || event_id")} END) END AS network_userid
         |FROM env2
         |WHERE m BETWEEN 12 AND 15 AND NOT dnt AND NOT qs_bad
         |  AND NOT (NOT anon AND NOT (event_id % 3 = 0 AND has_qs)
         |           AND cookie_sp IS NULL
         |           AND NOT (event_id % 37 = 0 AND has_qs))""".stripMargin,

    "c_partition_counts" ->
      s"""$Env
         |SELECT CASE WHEN NOT anon AND remote_ip IS NOT NULL THEN remote_ip
         |            ELSE ${uu("'pk' || event_id")} END AS partition_key,
         |  count(*) AS n
         |FROM env2 GROUP BY 1""".stripMargin,

    "c_tp2_events" ->
      s"""$Env
         |SELECT event_id, idx, event_type AS e, 'app' || (user_id % 5) AS aid,
         |  CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
         |FROM (SELECT event_id, event_type, user_id, props,
         |        unnest(range(0, n_elems)) AS idx
         |      FROM env2 WHERE m <= 11 OR m BETWEEN 17 AND 18) t""".stripMargin,

    "c_amplitude" ->
      s"""$Env
         |SELECT event_id, idx, 'd' || user_id AS device_id,
         |  event_type AS amp_event_type, timestamp_ms AS dtm,
         |  CASE WHEN event_id % 2 = idx % 2 THEN coalesce(remote_ip, 'unknown')
         |       ELSE '1.2.3.4' END AS ip_resolved
         |FROM (SELECT event_id, user_id, event_type, timestamp_ms, remote_ip,
         |        unnest(range(0, n_elems)) AS idx
         |      FROM env2 WHERE m = 19 AND user_id % 2 = 0) t""".stripMargin,

    "c_segment" ->
      s"""$Env
         |SELECT
         |  'ajs_bridge' AS aid,
         |  'ue' AS e,
         |  '4.1.' || (user_id % 3) AS tv,
         |  'web' AS p,
         |  to_base64(encode(
         |    '{"schema":"iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0","data":{"schema":"iglu:com.segment/track/jsonschema/1-0-0","data":' || body || '}}'
         |  )) AS ue_px,
         |  CASE WHEN anon THEN '00000000-0000-0000-0000-000000000000'
         |       ELSE coalesce(
         |         CASE WHEN event_id % 3 = 0 AND NOT qs_bad AND has_qs THEN ${uu("'nuid' || user_id")} END,
         |         cookie_sp,
         |         ${uu("'nuid-gen' || event_id")}) END AS tnuid,
         |  'https://site' || (user_id % 5) || '.example.com/p' || (event_id % 7) AS url,
         |  'P' || (event_id % 9) AS page,
         |  'en-US' AS lang,
         |  'UTC' AS tz,
         |  'u' || user_id AS uid,
         |  CAST(NULL AS VARCHAR) AS duid,
         |  event_id
         |FROM env2 WHERE m = 19 AND user_id % 2 <> 0""".stripMargin,

    "c_unified_events" ->
      s"""$Env
         |SELECT event_id, 'tp2' AS source, event_type AS e,
         |  'app' || (user_id % 5) AS aid
         |FROM (SELECT event_id, event_type, user_id,
         |        unnest(range(0, n_elems)) AS idx
         |      FROM env2 WHERE m <= 11 OR m BETWEEN 17 AND 18) t
         |UNION ALL
         |SELECT event_id, 'amplitude' AS source, event_type AS e,
         |  'amplitude' AS aid
         |FROM (SELECT event_id, event_type,
         |        unnest(range(0, n_elems)) AS idx
         |      FROM env2 WHERE m = 19 AND user_id % 2 = 0) t
         |UNION ALL
         |SELECT event_id, 'segment' AS source, 'ue' AS e, 'ajs_bridge' AS aid
         |FROM env2 WHERE m = 19 AND user_id % 2 <> 0""".stripMargin,

    "c_split_batches" ->
      s"""$Env
         |SELECT event_id, idx, idx // per_batch AS batch_idx FROM (
         |  SELECT event_id, unnest(range(0, n_elems)) AS idx,
         |    greatest(1, (200 - strlen('$Tp2Prefix' || ']}') + 1)
         |                 // (strlen(${tp2ElemNorm("0")}) + 1)) AS per_batch
         |  FROM env2 WHERE m <= 11 OR m BETWEEN 17 AND 18) t""".stripMargin,
  )
}
