package graft.sources

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic adapter: the driver's `events` table → HTTP request
  * envelopes (FIXTURES.md §1), the engine's ingestion record.
  *
  * The reference ingests live HTTP requests; our correctness gate needs a
  * reproducible request stream both Spark and the DuckDB oracle can derive
  * from the same parquet, so every envelope field is a pure function of
  * the event row (modular arithmetic on `event_id`/`user_id` — no
  * randomness). The same mapping is reimplemented in SQL inside
  * [[graft.queries.CollectorOracles]]; keep the two in lockstep.
  *
  * Mapping (m = event_id % 20):
  *  - m in [0,11]  → POST /com.snowplowanalytics.snowplow/tp2, self-describing
  *                   payload_data body with 1 + (event_id % 3) tracker events
  *  - m in [12,14] → GET /i (pixel, no body)
  *  - m = 15       → GET /ice.png
  *  - m = 16       → GET /r/tp2 (redirect; `u` param, allowlist-checked)
  *  - m in [17,18] → POST /com.acme/track (path-remap source)
  *  - m = 19       → POST /com.amplitude/2/httpapi (bridge batch body)
  * Other fields:
  *  - querystring: "e=<event_type>&aid=app<user_id%5>" + "&nuid=<uuid>" when
  *    event_id%3=0 + "&u=https://dest<user_id%10>.example.com/landing"
  *    ("...example.org" when user_id%10=0 → allowlist miss) on redirect rows;
  *    corrupted to "e=%%bad&&==" when event_id%17=0 (GenericError path)
  *  - remote_ip: null when event_id%7=0 else 10.<user_id%250>.0.<event_id%250>
  *  - sp_anonymous: "*" when event_id%11=0 else null
  *  - cookie_dnt: "true" when event_id%13=0 else null
  *  - cookie_sp: uuid(md5("sp"||user_id)) when user_id%4!=0 else null
  *  - timestamp_ms: unix millis of ts
  */
object EventEnvelopeAdapter {

  /** md5 hex → canonical 8-4-4-4-12 UUID string (deterministic stand-in for
    * the reference's random UUIDs — SURVEY.md §7.4 "Randomness"). */
  def uuidify(c: Column): Column = {
    val h = md5(c)
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  private def m: Column = pmod(col("event_id"), lit(20))

  private def trackerElement(idx: Int): Column =
    concat(lit("{\"e\":\""), col("event_type"),
      lit("\",\"aid\":\"app"), pmod(col("user_id"), lit(5)),
      lit(s"""","idx":$idx,"p":"""), col("props"), lit("}"))

  /** Self-describing tp2 POST body with 1 + event_id%3 elements
    * (reference body shape: `SplitBatch.scala:115-122`). */
  private def tp2Body: Column = {
    val n = pmod(col("event_id"), lit(3))
    val prefix = lit("{\"schema\":\"iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4\",\"data\":[")
    concat(prefix, trackerElement(0),
      when(n >= 1, concat(lit(","), trackerElement(1))).otherwise(lit("")),
      when(n >= 2, concat(lit(","), trackerElement(2))).otherwise(lit("")),
      lit("]}"))
  }

  private def amplitudeElement(idx: Int): Column =
    concat(lit("{\"device_id\":\"d"), col("user_id"),
      lit("\",\"event_type\":\""), col("event_type"),
      lit("\",\"time\":"), unix_millis(col("ts")),
      lit("\"".replace("\"", "") + ",\"ip\":\""),
      when(pmod(col("event_id"), lit(2)) === idx % 2, lit("$remote")).otherwise(lit("1.2.3.4")),
      lit("\"}"))

  /** Segment analytics.js track body (reference
    * `AnalyticsJsFixture.scala` shape, deterministic). */
  private def segmentBody: Column =
    concat(
      lit("{\"type\":\"track\",\"userId\":\"u"), col("user_id"),
      lit("\",\"properties\":{\"url\":\"https://site"), pmod(col("user_id"), lit(5)),
      lit(".example.com/p"), pmod(col("event_id"), lit(7)),
      lit("\",\"page\":\"P"), pmod(col("event_id"), lit(9)),
      lit("\"},\"context\":{\"locale\":\"en-US\",\"timezone\":\"UTC\",\"library\":{\"name\":\"analytics.js\",\"version\":\"4.1."), pmod(col("user_id"), lit(3)),
      lit("\"}}}"))

  /** Amplitude batch body (reference `AmplitudeBridge.scala:44-54`). */
  private def amplitudeBody: Column = {
    val n = pmod(col("event_id"), lit(3))
    concat(lit("{\"api_key\":\"test-key\",\"events\":["), amplitudeElement(0),
      when(n >= 1, concat(lit(","), amplitudeElement(1))).otherwise(lit("")),
      when(n >= 2, concat(lit(","), amplitudeElement(2))).otherwise(lit("")),
      lit("]}"))
  }

  def path: Column =
    when(m <= 11, lit("/com.snowplowanalytics.snowplow/tp2"))
      .when(m <= 14, lit("/i"))
      .when(m === 15, lit("/ice.png"))
      .when(m === 16, lit("/r/tp2"))
      .when(m <= 18, lit("/com.acme/track"))
      .when(pmod(col("user_id"), lit(2)) === 0, lit("/com.amplitude/2/httpapi"))
      .otherwise(lit("/com.segment/v1/t"))

  def method: Column =
    when(m <= 11 || m >= 17, lit("POST")).otherwise(lit("GET"))

  /** The querystring as the TRACKER sent it (fixture generator). Not what
    * the pipeline consumes — see [[rawUri]]/[[querystring]]: the engine
    * recovers the querystring from the raw request URI the way the
    * reference does. */
  private def rawQuerystring: Column = {
    val base = concat(lit("e="), col("event_type"),
      lit("&aid=app"), pmod(col("user_id"), lit(5)))
    val nuid = when(pmod(col("event_id"), lit(3)) === 0,
      concat(lit("&nuid="), uuidify(concat(lit("nuid"), col("user_id"))))).otherwise(lit(""))
    val u = when(m === 16,
      concat(lit("&u=https%3A%2F%2Fdest"), pmod(col("user_id"), lit(10)),
        when(pmod(col("user_id"), lit(10)) === 0, lit(".example.org"))
          .otherwise(lit(".example.com")),
        lit("%2Flanding"),
        // S4 macro slice: the encoded target carries ?uid=${SP_NUID},
        // substituted by the redirect resolver when the macro is enabled
        when(pmod(col("event_id"), lit(31)) === 0,
          lit("%3Fuid%3D%24%7BSP_NUID%7D")).otherwise(lit(""))))
      .otherwise(lit(""))
    // F2 second-pass slice: pixel rows carrying the bounce marker param
    // (the request a bounced browser replays) — these must STORE with the
    // configured fallback nuid, not bounce again
    val marker = when(m.between(12, 15) && pmod(col("event_id"), lit(37)) === 0,
      lit("&n=1")).otherwise(lit(""))
    when(pmod(col("event_id"), lit(17)) === 0, lit("e=%%bad&&=="))
      .otherwise(concat(base, nuid, u, marker))
  }

  /** P2 input: the request URI exactly as the HTTP layer's
    * `Raw-Request-URI` header carries it. Fixture slices exercise every
    * branch of the reference's extraction regex: event_id%19=0 → no `?`
    * at all (querystring must come out NULL), %29=0 → bare `?` with an
    * empty querystring (must come out `""`, not NULL), %23=0 → a
    * `#fragment` after the querystring (must be stripped). */
  def rawUri: Column = {
    val frag =
      when(pmod(col("event_id"), lit(23)) === 0, lit("#s2")).otherwise(lit(""))
    when(pmod(col("event_id"), lit(19)) === 0, path)
      .when(pmod(col("event_id"), lit(29)) === 0, concat(path, lit("?")))
      .otherwise(concat(path, lit("?"), rawQuerystring, frag))
  }

  /** P2: querystring recovered from a raw-URI COLUMN with the reference's
    * exact regex `^[^?]*\?([^#]*)(?:#.*)?$` (`CollectorRoute.scala:166-172`)
    * — no match (no `?`) → NULL, like the reference's `Option`; a bare `?`
    * yields the empty string; fragments are dropped. The `rlike` guard is
    * what distinguishes no-match from empty-group (Spark's
    * `regexp_extract` returns `""` for both). Takes the already-projected
    * column, NOT the [[rawUri]] generator expression: inlining the
    * generator here re-evaluated its concat+md5 tree inside both regex
    * calls and doubled the envelope build (c_payload 0.8 → 1.6 s). */
  def extractQuerystring(rawUriCol: Column): Column = {
    val re = "^[^?]*\\?([^#]*)(?:#.*)?$"
    when(rawUriCol.rlike(re), regexp_extract(rawUriCol, re, 1))
      .otherwise(lit(null).cast("string"))
  }

  /** P2 over the generator (spec/oracle convenience; envelope builds use
    * [[extractQuerystring]] over the projected column). */
  def querystring: Column = extractQuerystring(rawUri)

  def remoteIp: Column =
    when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("string"))
      .otherwise(concat(lit("10."), pmod(col("user_id"), lit(250)),
        lit(".0."), pmod(col("event_id"), lit(250))))

  def spAnonymous: Column =
    when(pmod(col("event_id"), lit(11)) === 0, lit("*")).otherwise(lit(null).cast("string"))

  def cookieDnt: Column =
    when(pmod(col("event_id"), lit(13)) === 0, lit("true")).otherwise(lit(null).cast("string"))

  def cookieSp: Column =
    when(pmod(col("user_id"), lit(4)) =!= 0, uuidify(concat(lit("sp"), col("user_id"))))
      .otherwise(lit(null).cast("string"))

  def userAgent: Column = concat(lit("Mozilla/5.0 (agent "), pmod(col("user_id"), lit(10)), lit(")"))

  def referer: Column =
    when(pmod(col("event_id"), lit(5)) === 0,
      concat(lit("https://referrer.example.com/p"), pmod(col("event_id"), lit(50))))
      .otherwise(lit(null).cast("string"))

  def hostname: Column = concat(lit("collector-"), pmod(col("user_id"), lit(3)), lit(".example.com"))

  /** Origin header (F5 CORS fixture), k = event_id % 6: absent; wildcard
    * subdomain / bare-base matches; exact / dotted-suffix matches; and two
    * blocked shapes, incl. the adversarial `notallowed.allowed...`-style
    * suffix-without-dot (`notallowed.example.com` must NOT match
    * `*.allowed.example.com`). */
  def origin: Column = {
    val k = pmod(col("event_id"), lit(6))
    when(k === 0, lit(null).cast("string"))
      .when(k === 1, concat(lit("https://sub"), pmod(col("user_id"), lit(3)), lit(".allowed.example.com")))
      .when(k === 2, lit("https://allowed.example.com"))
      .when(k === 3, lit("https://partner.io"))
      .when(k === 4, lit("https://api.partner.io"))
      .otherwise(when(pmod(col("user_id"), lit(2)) === 0, lit("https://notallowed.example.com"))
        .otherwise(lit("https://evil.example.net")))
  }

  def body: Column =
    when(m <= 11, tp2Body)
      .when(m >= 19,
        when(pmod(col("user_id"), lit(2)) === 0, amplitudeBody).otherwise(segmentBody))
      .when(m >= 17, tp2Body) // /com.acme/track carries the same tracker body
      .otherwise(lit(null).cast("string"))

  def contentType: Column =
    when(method === "POST", lit("application/json")).otherwise(lit(null).cast("string"))

  /** Raw header lines as stored in payload.headers (reference
    * `CollectorService.scala:466-478`); includes Remote-Address, which the
    * header filter must always strip. Only the present headers: the
    * `concat` of a one-element array per present line, which Spark
    * generates code for (a higher-order `filter` over `array(...)` it
    * does not). */
  def headers: Column = {
    val parts = Seq(
      concat(lit("Host: "), hostname),
      concat(lit("User-Agent: "), userAgent),
      concat(lit("Referer: "), referer),
      concat(lit("X-Forwarded-For: "), remoteIp),
      concat(lit("Remote-Address: "), remoteIp),
      concat(lit("Cookie: sp="), cookieSp),
      contentType,
    )
    val none = typedLit(Seq.empty[String])
    concat(parts.map(h => when(h.isNotNull, array(h)).otherwise(none)): _*)
  }

  /** The full envelope DataFrame: one projection over the events scan, so
    * at 100 TB this is a pure map stage fused into whole-stage codegen
    * (Spread is the identity there — it only rebalances when the scan
    * yields fewer splits than the session's parallelism, as the compact
    * single-file test parquet does). */
  def envelopes(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Spread(Tables.events(spark, sfDir)).select(
      col("event_id"),
      method.as("method"),
      path.as("path"),
      rawUri.as("raw_uri"),
      body.as("body"),
      contentType.as("content_type"),
      userAgent.as("user_agent"),
      referer.as("referer"),
      hostname.as("hostname"),
      remoteIp.as("remote_ip"),
      origin.as("origin"),
      spAnonymous.as("sp_anonymous"),
      cookieSp.as("cookie_sp"),
      cookieDnt.as("cookie_dnt"),
      headers.as("headers"),
      unix_millis(col("ts")).as("timestamp_ms"),
    )
      // derived from the PROJECTED raw_uri so the generator tree (concat +
      // md5 uuidify) is evaluated once per row, not once per regex call
      .withColumn("querystring", extractQuerystring(col("raw_uri")))
}
