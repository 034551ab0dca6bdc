package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One envelope's outcome in [[CollectorPipeline.route]]: a good wire
  * record (`partition_key` + `thrift`) or one bad row (`bad_row_type` +
  * `payload_prefix` + `actual_size`, and the size gate's `reason` on a
  * SizeViolation); the other side's fields are null. `timestamp_ms` is the
  * request time on both sides. */
final case class Routed(
    event_id: Long, good: Boolean, partition_key: String, thrift: Array[Byte],
    timestamp_ms: Long, bad_row_type: String, payload_prefix: String,
    actual_size: Option[Long], reason: String)

/** The collector dataflow (reference semantics, Spark-first shapes).
  *
  * Input: the request-envelope DataFrame from
  * [[graft.sources.EventEnvelopeAdapter]] (columns: event_id, method, path,
  * querystring, body, content_type, user_agent, referer, hostname,
  * remote_ip, sp_anonymous, cookie_sp, cookie_dnt, headers, timestamp_ms).
  *
  * Every transform here is a pure column expression (no UDFs), so the whole
  * payload build stays inside one WholeStageCodegen span fused into the
  * source scan — at 100 TB this stage is a narrow map with zero shuffles.
  *
  * Reference citations (see SURVEY.md §2):
  *  - P1 buildEvent        reference `core/.../CollectorService.scala:251-305`
  *  - P3 query params      `CollectorService.scala:198-199`
  *  - P4 header filter     `CollectorService.scala:466-478`
  *  - P5 ip/partition key  `CollectorService.scala:520-532`
  *  - P6 networkUserId     `CollectorService.scala:534-547`
  *  - P7 path remap        `CollectorService.scala:102-108`
  *  - F1 do-not-track      `CollectorRoute.scala:182-191`
  *  - F3 SP-Anonymous      `CollectorRoute.scala:33-38` + P4/P5/P6
  *  - F4 redirect allowlist `CollectorService.scala:390-399`
  *  - F7 bad querystring   `CollectorService.scala:184-195`
  */
object CollectorPipeline {

  /** Deterministic UUID from any string column: md5 hex → 8-4-4-4-12.
    * Stand-in for the reference's `UUID.randomUUID` (SURVEY §7.4
    * "Randomness") — prod config would swap in `uuid()`. */
  def uuidify(c: Column): Column = {
    val h = md5(c)
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  /** One &-separated querystring token: `key` or `key=value`. The charset
    * is the conservative urlencoded alphabet; '%' is allowed bare (the
    * reference's URI parser is similarly lenient about stray escapes in
    * VALUES but rejects empty tokens / bare '='). */
  private val TokenRe = "^[A-Za-z0-9_.~%+-]+(=[A-Za-z0-9_.~%+:/-]*)?$"

  /** F7: does the querystring parse? Empty/null is fine; every token must
    * match [[TokenRe]]. Failures become GenericError bad rows.
    * Measured negative result (r5): composing the token pattern into one
    * anchored `^T(&T)*$` regex to replace the HOF is ~70% SLOWER — the
    * nested quantifiers backtrack where split + per-token anchored
    * matches stay linear. Keep the forall form. */
  def qsValid(qs: Column): Column =
    qs.isNull || qs === "" ||
      forall(split(qs, "&"), t => t.rlike(TokenRe))

  /** P3: querystring → map. Guarded by [[qsValid]] at call sites (CaseWhen
    * only evaluates the taken branch). qsValid does NOT reject duplicate
    * keys — `a=1&a=2` is legal HTTP — so the session runs str_to_map
    * under mapKeyDedupPolicy=LAST_WIN (GraftSession; Spark's default
    * policy throws, letting one hostile request kill the job — FuzzSpec
    * regression). LAST_WIN matches Scala's pairs.toMap. */
  def qsMap(qs: Column): Column = str_to_map(qs, lit("&"), lit("="))

  /** A single query param, null when the string is malformed or absent. */
  def qp(qs: Column, key: String): Column =
    when(qsValid(qs), element_at(qsMap(qs), key)).otherwise(lit(null))

  /** F1: drop the event when DNT tracking is enabled AND the DNT cookie
    * value matches the configured regex (full match, as the reference's
    * `matches`; the `doNotTrackCookie.enabled` gate is the reference's —
    * disabled config ⇒ constant false, folds away in codegen). */
  def dntSuppressed(cfg: CollectorConfig): Column =
    if (!cfg.dntEnabled) lit(false)
    else col("cookie_dnt").isNotNull &&
      col("cookie_dnt").rlike("^(?:" + cfg.dntCookieValue + ")$")

  /** F3: SP-Anonymous header present. */
  def anon: Column = col("sp_anonymous").isNotNull

  /** P5a: payload IP — "unknown" when absent or anonymized. */
  def ip: Column =
    when(anon, lit("unknown")).otherwise(coalesce(col("remote_ip"), lit("unknown")))

  /** P5b: partition key = client IP, else a generated id (deterministic
    * here; `uuid()` in prod). Anonymous events never key by IP. */
  def partitionKey(cfg: CollectorConfig): Column =
    if (cfg.useIpAsPartitionKey)
      when(!anon && col("remote_ip").isNotNull, col("remote_ip"))
        .otherwise(uuidify(concat(lit("pk"), col("event_id"))))
    else uuidify(concat(lit("pk"), col("event_id")))

  /** P6: network user id — nil UUID when anonymous; else `nuid` query
    * param, else the `sp` cookie, else a fresh (deterministic) id. */
  def networkUserId: Column =
    when(anon, lit(CollectorConfig.NilUuid))
      .otherwise(coalesce(
        qp(col("querystring"), "nuid"),
        col("cookie_sp"),
        uuidify(concat(lit("nuid-gen"), col("event_id")))))

  /** P6 under an active bounce config (reference
    * `CollectorService.scala:534-547` + CollectorServiceSpec:218-240
    * "store stuff if having already bounced with the fallback nuid"):
    * a request that arrives WITH the bounce marker param and still has
    * no cookie gets the configured `fallbackNetworkUserId` — third-party
    * cookies are known-blocked at that point, so a fresh random id per
    * request would shatter the user into singletons. */
  def networkUserIdWithBounce(cfg: CollectorConfig): Column = {
    val bounced = qp(col("querystring"), cfg.bounceParamName).isNotNull
    when(anon, lit(CollectorConfig.NilUuid))
      .otherwise(coalesce(
        qp(col("querystring"), "nuid"),
        col("cookie_sp"),
        when(bounced, lit(cfg.bounceFallbackNuid))
          .otherwise(uuidify(concat(lit("nuid-gen"), col("event_id"))))))
  }

  /** P7: config-driven path remap. The map is tiny (a handful of routes) so
    * a chained CASE beats a broadcast join — zero extra plan nodes. */
  def remappedPath(cfg: CollectorConfig): Column =
    cfg.paths.foldLeft(col("path")) { case (acc, (from, to)) =>
      when(col("path") === from, lit(to)).otherwise(acc)
    }

  /** P4: header redaction — Remote-Address / Raw-Request-URI always
    * dropped; X-Forwarded-For / X-Real-Ip / Cookie also dropped under
    * SP-Anonymous. Pure higher-order `filter`, no UDF. */
  def filteredHeaders: Column =
    filter(col("headers"), h =>
      !h.startsWith("Remote-Address:") && !h.startsWith("Raw-Request-URI:") &&
        (!anon || (!h.startsWith("X-Forwarded-For:") &&
          !h.startsWith("X-Real-Ip:") && !h.startsWith("Cookie:"))))

  /** The reference's `pixelExpected` route flag as a column
    * (`CollectorRoute.scala:115-152`): pixel paths and GET/HEAD
    * vendor/version routes serve the GIF; POST routes don't. */
  def pixelExpected: Column =
    isPixel || (col("method").isin("GET", "HEAD") && !isRedirect)

  /** F2: cookie-bounce suppression — a fresh user (no nuid source) on a
    * pixel-expected route gets a 302-to-self with the bounce param instead
    * of being stored; the bounced request (param present) is stored
    * (reference `CollectorService.scala:134-141,437-464`: the gate is
    * `pixelExpected && !redirect`, so GET/HEAD vendor/version routes
    * bounce too — widened in r10 from pixel-paths-only). Disabled config
    * ⇒ constant false (folds away in codegen). */
  def bounceSuppressed(cfg: CollectorConfig): Column =
    if (!cfg.bounceEnabled) lit(false)
    else !anon && qsValid(col("querystring")) &&
      qp(col("querystring"), "nuid").isNull && col("cookie_sp").isNull &&
      qp(col("querystring"), cfg.bounceParamName).isNull &&
      pixelExpected && !isRedirect

  /** F2 projection: which pixel-expected requests bounce, and where to.
    * The location appends the reference's literal marker value `true`
    * (`CollectorService.scala:458`: `name -> "true"`) to the ORIGINAL
    * querystring — a request with no/empty querystring still gets a
    * well-formed `path?name=true` location, never null. */
  def bounces(env: DataFrame, cfg: CollectorConfig): DataFrame = {
    val qsPrefix =
      when(col("querystring").isNull || col("querystring") === "", lit(""))
        .otherwise(concat(col("querystring"), lit("&")))
    val rel = concat(col("path"), lit("?"), qsPrefix,
      lit(cfg.bounceParamName + "=true"))
    // forwardedProtocolHeader (reference `CollectorService.scala:444-455`):
    // a valid http/https value in the configured header upgrades the
    // Location to absolute on that scheme; invalid values are ignored
    // with the relative fallback. Pure HOF filter over the header lines.
    val location = cfg.bounceForwardedProtocolHeader match {
      case None => rel
      case Some(name) =>
        val value = lower(trim(regexp_extract(
          try_element_at(filter(col("headers"),
            h => lower(h).startsWith(name.toLowerCase + ":")), lit(1)),
          "(?i)^" + java.util.regex.Pattern.quote(name) + ":\\s*(.*)$", 1)))
        when(value.isin("http", "https"),
          concat(value, lit("://"), col("hostname"), rel)).otherwise(rel)
    }
    env
      .filter(pixelExpected && !isRedirect)
      .select(
        col("event_id"),
        bounceSuppressed(cfg).as("bounced"),
        when(bounceSuppressed(cfg), location).as("location"))
  }

  /** P8: Set-Cookie domain resolution — first configured domain that any
    * Origin host matches exactly or as a dot-suffix wins; else the
    * fallback (reference `CollectorService.scala:485-518`). `origins` is
    * an array-of-hosts column. Pure coalesce-over-exists, no UDF. */
  def cookieDomain(
      origins: Column, domains: Seq[String], fallback: Option[String]): Column = {
    val matches = domains.map { d =>
      when(exists(origins, h => h === d || h.endsWith("." + d)), lit(d))
    }
    val fb = fallback.map(lit).getOrElse(lit(null).cast("string"))
    coalesce(matches :+ fb: _*)
  }

  /** Routes that produce a tracking payload (everything the adapter emits
    * is trackable; ops endpoints are out of engine scope). */
  def isPixel: Column = col("path").isin("/i", "/ice.png")
  def isRedirect: Column = col("path").startsWith("/r/")
  def isAmplitude: Column = col("path").startsWith("/com.amplitude/")
  def isSegment: Column = col("path").startsWith("/com.segment/")

  /** P1: the full CollectorPayload projection over an envelope DataFrame.
    * Good rows only: DNT-suppressed (F1) and malformed-querystring (F7)
    * rows are excluded (the latter surface in [[badRows]]). */
  def payloads(env: DataFrame, cfg: CollectorConfig): DataFrame =
    env
      .filter(!dntSuppressed(cfg) && qsValid(col("querystring")) &&
        !bounceSuppressed(cfg))
      .select(payloadCols(cfg, lit(CollectorConfig.PayloadSchemaUri)): _*)

  /** [[payloads]]' columns, with `schema_uri` given by the caller. */
  private def payloadCols(cfg: CollectorConfig, schemaUri: Column): Seq[Column] = Seq(
    col("event_id"),
    schemaUri.as("schema_uri"),
    ip.as("ip"),
    col("timestamp_ms"),
    lit("UTF-8").as("encoding"),
    lit(cfg.collectorName).as("collector"),
    col("querystring"),
    col("body"),
    remappedPath(cfg).as("path"),
    col("user_agent"),
    col("referer").as("referer_uri"),
    col("hostname"),
    (if (cfg.bounceEnabled) networkUserIdWithBounce(cfg) else networkUserId)
      .as("network_userid"),
    col("content_type"),
    partitionKey(cfg).as("partition_key"),
    array_join(filteredHeaders, "|").as("headers_str"),
    // the true list — headers_str is a display/oracle projection only
    // (a '|' inside a header value would corrupt a split-based rebuild)
    filteredHeaders.as("headers"))

  /** The collector's one routing pass over envelopes — the reference's
    * serialize once, then route (`SplitBatch.scala:81-113`). At most one
    * row per envelope, each carrying the request's `timestamp_ms`:
    *  - a malformed querystring (F7) gives a GenericError row
    *    (`payload_prefix` = the querystring, `actual_size` = its bytes).
    *    It is decided first, so DNT does not suppress it;
    *  - DNT- (F1) and bounce-suppressed (F2) requests emit nothing;
    *  - every other request's payload is serialized once. It is a good row
    *    (`partition_key` + `thrift`) when its wire size is below
    *    `maxBytes`, else a SizeViolation row (F6: `actual_size` = the wire
    *    size, `payload_prefix` = `maxBytes / 10` chars of the thrift
    *    toString()) — the reference's gate `wholeEventBytes >= maxBytes`.
    *    Its `reason` is [[SplitBatch.GetNotSplittable]] for a bodiless
    *    event and [[SplitBatch.PostNotSplit]] for a POST: this flat gate
    *    bad-rows an oversized POST whole where the reference would try to
    *    split it (a declared divergence; the split-aware routing is
    *    [[SplitBatch.routeWire]]).
    * One [[ThriftPayload.payloadPass]] with no exchange on a stream, so it
    * runs inside the streaming plan ([[graft.CollectorApp.start]]) as
    * well as over a batch. [[goodLeg]] and [[badLeg]] are its two legs. */
  def route(env: DataFrame, cfg: CollectorConfig): DataFrame = {
    val qsOk = qsValid(col("querystring"))
    val maxBytes = cfg.maxBytes
    val rows = env
      .filter(!qsOk || (!dntSuppressed(cfg) && !bounceSuppressed(cfg)))
      .select(payloadCols(cfg, when(qsOk, lit(CollectorConfig.PayloadSchemaUri))) :+
        octet_length(col("querystring")).cast("long").as("qs_bytes"): _*)
    ThriftPayload.payloadPass[Routed](rows, "partition_key", "querystring", "qs_bytes", "timestamp_ms") { () =>
      (r, rec, wire) => {
        val ts = r.getLong(4)
        def bad(kind: String, prefix: String, size: Long, reason: String) =
          Routed(r.getLong(0), good = false, null, null, ts, kind, prefix, Some(size), reason)
        Iterator.single(
          if (rec == null) bad("GenericError", r.getString(2), r.getLong(3), null)
          else if (wire.length < maxBytes)
            Routed(r.getLong(0), good = true, r.getString(1), wire, ts, null, null, None, null)
          else bad("SizeViolation", ThriftPayload.toStringRepr(rec).take(maxBytes / 10), wire.length,
            if (rec.body == null) SplitBatch.GetNotSplittable else SplitBatch.PostNotSplit))
      }
    }.toDF()
  }

  /** [[route]]'s good leg: the wire records every good sink ships
    * (`event_id`, `partition_key`, `thrift` — [[WirePayload]]'s shape)
    * plus the request's `timestamp_ms`, which the date-partitioned lake
    * ([[graft.sinks.LakeSink]]) partitions by. */
  def goodLeg(routed: DataFrame): DataFrame =
    routed.filter(col("good")).select("event_id", "partition_key", "thrift", "timestamp_ms")

  /** [[route]]'s bad leg: [[badRows]]' four columns plus `bad_row_json`,
    * the row's self-describing envelope ([[badRowJson]]), so every bad
    * sink — parquet or a client stream — receives one shape. */
  def badLeg(routed: DataFrame, cfg: CollectorConfig): DataFrame =
    routed.filter(!col("good")).select(
      col("event_id"), col("bad_row_type"), col("payload_prefix"), col("actual_size"),
      badRowJson(cfg).as("bad_row_json"))

  /** The flat bad-row stream over envelopes: GenericError rows for
    * malformed querystrings (F7) and SizeViolation rows for payloads whose
    * serialized size reaches `maxBytes` (F6), with the reference's exact
    * semantics (`SplitBatch.scala:81-145`; byte/golden parity asserted in
    * SplitBatchSpec). The bad projection of [[route]], so the batch query
    * and the live collector share one routing definition. */
  def badRows(env: DataFrame, cfg: CollectorConfig): DataFrame =
    badLeg(route(env, cfg), cfg).drop("bad_row_json")

  /** One bad row as the reference's full JSON envelope (`badRow.compact` —
    * `CollectorService.scala:185-189,321`, `utils/SplitBatch.scala:132-145`),
    * over the columns `bad_row_type`, `timestamp_ms`, `payload_prefix`,
    * `actual_size` and `reason`. GenericError wraps the unparseable
    * querystring; SizeViolation carries the size gate + `reason` as
    * `expectation` and the thrift toString() prefix as `payload`. Declared
    * divergences: the failure `timestamp` is the REQUEST time
    * (deterministic, replayable) where the reference stamps sink-side wall
    * clock (`Instant.now()`), and the GenericError message is a stable
    * string where the reference surfaces the HTTP library's exception
    * text. `to_json(struct(...))` — a codegen'd projection, no UDF. */
  private def badRowJson(cfg: CollectorConfig): Column = {
    val processor =
      struct(lit(cfg.appName).as("artifact"), lit(cfg.appVersion).as("version"))
    val timestamp = date_format(timestamp_millis(col("timestamp_ms")),
      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("timestamp")
    def envelope(schema: String, payload: Column, failure: Column*) =
      to_json(struct(
        lit(schema).as("schema"),
        struct(
          processor.as("processor"),
          struct(timestamp +: failure: _*).as("failure"),
          payload.as("payload")).as("data")))
    when(col("bad_row_type") === "GenericError",
      envelope(CollectorConfig.GenericErrorSchemaUri, coalesce(col("payload_prefix"), lit("")),
        array(lit("querystring is not parseable")).as("errors")))
      .otherwise(envelope(CollectorConfig.SizeViolationSchemaUri, col("payload_prefix"),
        lit(cfg.maxBytes).as("maximumAllowedSizeBytes"),
        col("actual_size").cast("int").as("actualSizeBytes"),
        concat(lit("oversized collector payload: "), col("reason")).as("expectation")))
  }

  /** The SELF-DESCRIBING bad-row stream over envelopes, split-aware: each
    * bad row the reference's bad sink would receive, as [[badRowJson]].
    * GenericError rows for malformed querystrings; SizeViolation rows from
    * [[SplitBatch.badRowFields]], which carry the split decision tree's
    * branch message as `reason` and, on the split path, one row per
    * irreducible element. */
  def badRowsJson(env: DataFrame, cfg: CollectorConfig): DataFrame = {
    val generic = env
      .filter(!qsValid(col("querystring")))
      .select(
        col("event_id"), lit("GenericError").as("bad_row_type"), col("timestamp_ms"),
        col("querystring").as("payload_prefix"), lit(null).cast("long").as("actual_size"),
        lit(null).cast("string").as("reason"))
    val size = SplitBatch.badRowFields(payloads(env, cfg), cfg.maxBytes).toDF()
      .withColumn("bad_row_type", lit("SizeViolation"))
    generic.unionByName(size).select(col("event_id"), badRowJson(cfg).as("bad_row_json"))
  }

  /** P9: the Set-Cookie response header (reference
    * `CollectorService.scala:407-433`): suppressed under do-not-track and
    * SP-Anonymous; otherwise `name=networkUserId` with absolute expiry
    * (request time + configured lifetime), the P8-resolved domain
    * ([[cookieDomain]] over the Origin host), `Path=/`, and the configured
    * Secure / HttpOnly / SameSite flags — rendered as the header value
    * string. Config flags fold to literals in codegen. */
  def setCookieHeaders(env: DataFrame, cfg: CollectorConfig): DataFrame = {
    val originHost = regexp_replace(col("origin"), "^https?://", "")
    val origins = filter(array(originHost), h => h.isNotNull)
    val domain = cookieDomain(origins, cfg.cookieDomains, cfg.fallbackDomain)
    // cookie.enabled is the reference's master switch for the Set-Cookie
    // header (`CollectorService.scala:407-410`); folds to false when off
    val emitted = lit(cfg.cookieEnabled) && !dntSuppressed(cfg) && !anon
    val flags =
      (if (cfg.cookieSecure) "; Secure" else "") +
        (if (cfg.cookieHttpOnly) "; HttpOnly" else "") +
        cfg.cookieSameSite.map("; SameSite=" + _).getOrElse("")
    env.select(
      col("event_id"),
      emitted.as("emitted"),
      when(emitted, concat(
        lit(cfg.cookieName + "="), networkUserId,
        // RFC-1123 wire format, UTC-pinned — what Pekko's HttpCookie
        // renders (reference `CollectorService.scala:420-431`)
        lit("; Expires="),
        date_format(
          timestamp_millis(col("timestamp_ms") + lit(cfg.cookieExpirationMs)),
          "EEE, dd MMM yyyy HH:mm:ss 'GMT'"),
        when(domain.isNotNull, concat(lit("; Domain="), domain)).otherwise(lit("")),
        lit("; Path=/"), lit(flags))).as("set_cookie"))
  }

  /** F5: per-request CORS origin decision with the reference's exact
    * matching (`AmplitudeBridge.scala:60-112`):
    *  - `*` allows any origin;
    *  - `*.example.com` matches `sub.example.com` (dotted suffix) and the
    *    bare base `example.com`;
    *  - an exact domain matches itself and any dotted subdomain.
    * Decision (reference `buildCorsHeaders`): no Origin header → allow-all
    * (`allow_origin = "*"`); whitelisting active (enabled and no `*` in the
    * list) → echo the origin when allowed, else no CORS header (null) and a
    * 403 preflight; whitelisting inactive → echo. The domain list is config
    * (driver-side), so the match unrolls to a codegen'd OR-chain — no
    * per-row list traversal. */
  def corsDecisions(env: DataFrame, cfg: CollectorConfig): DataFrame = {
    val host = regexp_replace(col("origin"), "^https?://", "")
    def matches(d: String): Column =
      if (d == "*") lit(true)
      else if (d.startsWith("*.")) host.endsWith(d.substring(1)) || host === d.substring(2)
      else host === d || host.endsWith("." + d)
    val hostAllowed = cfg.corsDomains.map(matches).reduceOption(_ || _).getOrElse(lit(false))
    val whitelisting = cfg.corsEnabled && !cfg.corsDomains.contains("*")
    val allowed =
      when(col("origin").isNull, lit(true))
        .otherwise(if (whitelisting) hostAllowed else lit(true))
    val allowOrigin =
      when(col("origin").isNull, lit("*"))
        .otherwise(
          if (whitelisting) when(hostAllowed, col("origin")).otherwise(lit(null).cast("string"))
          else col("origin"))
    env.select(
      col("event_id"),
      col("origin"),
      host.as("origin_host"),
      allowed.as("allowed"),
      allowOrigin.as("allow_origin"),
      when(allowed, lit(200)).otherwise(lit(403)).as("preflight_status"))
  }

  /** S4/F4: redirect resolution for `/r/...` rows — decode `u`, gate on
    * the domain allowlist, and (when `redirectMacro.enabled`) substitute
    * the placeholder with the resolved network user id. `location` is
    * null when rejected; malformed percent-escapes (e.g. a trailing '%')
    * decode to null via try_url_decode and are rejected per-row, never
    * failing the job.
    *
    * Reference semantics pinned by the CollectorServiceSpec:549-605
    * goldens: an EMPTY `redirectDomains` set means NO restriction (any
    * decodable target 302s — the reference's shipped default); the macro
    * is left VERBATIM in the location when the macro config is disabled;
    * a custom placeholder token replaces the default `${SP_NUID}`. */
  def redirects(env: DataFrame, cfg: CollectorConfig): DataFrame = {
    val placeholder =
      cfg.redirectMacroPlaceholder.getOrElse("${SP_NUID}")
    val location =
      if (!cfg.redirectMacroEnabled) col("target")
      else regexp_replace(col("target"),
        lit(java.util.regex.Pattern.quote(placeholder)), networkUserId)
    // F8: `/r/*` is 404/absent unless enabled (reference
    // `CollectorRoute.scala:43-49`); the literal folds away when on
    withRedirectTarget(env.filter(isRedirect && lit(cfg.enableDefaultRedirect)), cfg)
      .select(
        col("event_id"),
        col("target"),
        col("allowed"),
        when(col("allowed"), location).otherwise(lit(null)).as("location"))
  }

  /** Adds the redirect columns [[redirects]] and [[responses]] share:
    * `target`, the decoded `u` param, and `allowed`, true when the target
    * decodes and its host is on the allowlist. An EMPTY `redirectDomains`
    * set allows any host (F4 default). */
  private def withRedirectTarget(env: DataFrame, cfg: CollectorConfig): DataFrame = {
    // tolerant host extraction (the reference parses with java.net.URL,
    // which accepts e.g. ${SP_NUID} in the query; Spark's parse_url
    // throws and try_parse_url nulls the whole URL): authority minus
    // userinfo and port, null when there is no scheme://host shape
    val host = regexp_extract(col("target"),
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1)
    val hostOrNull = when(host === "", lit(null)).otherwise(host)
    val onList =
      if (cfg.redirectDomains.isEmpty) lit(true)
      else cfg.redirectDomains
        .map(d => hostOrNull === d || hostOrNull.endsWith("." + d))
        .reduce(_ || _)
    env
      .withColumn("u_enc", qp(col("querystring"), "u"))
      .withColumn("target", expr("try_url_decode(u_enc)"))
      .withColumn("allowed", when(col("target").isNotNull, onList).otherwise(lit(false)))
  }

  /** Response-kind projection (SURVEY §7.4 hard part 2: per-request
    * response semantics as columns, served by `streaming/HttpEdge` —
    * column-parity-pinned). DNT suppression changes sinking, not the
    * response. R10: method- and gate-aware like the reference route
    * table — bridge JSON only for POSTs on an ENABLED bridge
    * (`CollectorService.scala:356-367`; segment letters + amplitude
    * httpapi/batch shapes exact), an unknown segment event letter
    * answers 400, GET/HEAD vendor routes are pixel-expected (GIF),
    * POST vendor routes answer "ok". */
  def responses(env: DataFrame, cfg: CollectorConfig): DataFrame = {
    val segKnown =
      col("path").rlike("^/com\\.segment/v1/(i|t|p|s|g|a)$") &&
        lit(cfg.analyticsJsBridgeEnabled)
    val segUnknown =
      col("path").rlike("^/com\\.segment/v1/[^/]+$") &&
        lit(cfg.analyticsJsBridgeEnabled) && !segKnown
    val amp =
      col("path").rlike("^/com\\.amplitude/2/(httpapi|batch)$") &&
        lit(cfg.amplitudeBridgeEnabled)
    withRedirectTarget(env, cfg)
      .select(
        col("event_id"),
        when(isPixel, lit("gif"))
          .when(isRedirect && !lit(cfg.enableDefaultRedirect), lit("404"))
          .when(isRedirect && col("allowed"), lit("302"))
          .when(isRedirect, lit("400"))
          .when((segKnown || amp) && col("method") === "POST", lit("json"))
          .when(segUnknown, lit("400"))
          .when(col("method").isin("GET", "HEAD"), lit("gif"))
          .otherwise(lit("ok")).as("response_kind"))
  }
}
