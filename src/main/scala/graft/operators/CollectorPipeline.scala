package graft.operators

import graft.streaming.HttpEdge
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
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
  * [[graft.sources.EventEnvelopeAdapter]] or the edge's spool, with the
  * columns of [[graft.streaming.HttpEdge.envelopeSchema]]: event_id,
  * method, path, raw_uri, body, content_type, user_agent, referer,
  * hostname, remote_ip, origin, sp_anonymous, cookie_sp, cookie_dnt,
  * headers, timestamp_ms, querystring. The per-request response
  * decisions (Set-Cookie, CORS, redirect, bounce Location, response kind)
  * live in [[graft.streaming.HttpEdge]]; the columns here decide what is
  * stored.
  *
  * Two forms of the same payload build. [[payloads]] and the predicates
  * ([[qsValid]], [[dntSuppressed]], [[bounceSuppressed]], ...) are column
  * expressions: the definition the DuckDB oracle checks. [[route]], what
  * the live collector and [[badRows]] run, builds each payload in one
  * typed pass with the edge's per-request functions
  * ([[graft.streaming.HttpEdge.Qs]], `networkUserId`, `dnt`, `bounces`,
  * `uuidify`); CollectorRouteSpec pins it to the columns. Both are narrow
  * maps with zero shuffles.
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
    * value matches the configured regex (anchored as a full match, like
    * the reference's `matches`, but tested with `rlike`'s `find(0)`, so
    * `$` also matches before a trailing line terminator; the
    * `doNotTrackCookie.enabled` gate is the reference's — disabled
    * config ⇒ constant false, folds away in codegen). */
  def dntSuppressed(cfg: CollectorConfig): Column =
    if (!cfg.dntEnabled) lit(false)
    else col("cookie_dnt").isNotNull && col("cookie_dnt").rlike(cfg.dntPattern.pattern)

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

  /** P4: header lines always redacted, and those redacted under
    * SP-Anonymous, by prefix. */
  private val Redacted = Seq("Remote-Address:", "Raw-Request-URI:")
  private val RedactedAnon = Seq("X-Forwarded-For:", "X-Real-Ip:", "Cookie:")

  /** P4: header redaction — [[Redacted]] always dropped, [[RedactedAnon]]
    * also under SP-Anonymous; a null element is dropped too (its
    * predicate is NULL). Pure higher-order `filter`, no UDF. */
  def filteredHeaders: Column = {
    def kept(h: Column, prefixes: Seq[String]) = prefixes.map(p => !h.startsWith(p)).reduce(_ && _)
    filter(col("headers"), h => kept(h, Redacted) && (!anon || kept(h, RedactedAnon)))
  }

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

  /** Routes that produce a tracking payload (everything the adapter emits
    * is trackable; ops endpoints are out of engine scope). */
  def isPixel: Column = col("path").isin("/i", "/ice.png")
  def isRedirect: Column = col("path").startsWith("/r/")
  def isAmplitude: Column = col("path").startsWith("/com.amplitude/")
  def isSegment: Column = col("path").startsWith("/com.segment/")

  /** P1: the full CollectorPayload projection over an envelope DataFrame.
    * Good rows only: DNT-suppressed (F1), bounce-suppressed (F2) and
    * malformed-querystring (F7) rows are excluded (the latter surface in
    * [[badRows]]). The column definition [[route]] is pinned to. */
  def payloads(env: DataFrame, cfg: CollectorConfig): DataFrame =
    env
      .filter(!dntSuppressed(cfg) && qsValid(col("querystring")) &&
        !bounceSuppressed(cfg))
      .select(
        col("event_id"),
        lit(CollectorConfig.PayloadSchemaUri).as("schema_uri"),
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
    * build, serialize once, then route (`CollectorService.scala:251-305`,
    * `SplitBatch.scala:81-113`). At most one row per envelope, each
    * carrying the request's `timestamp_ms`:
    *  - a malformed querystring (F7) gives a GenericError row
    *    (`payload_prefix` = the querystring, `actual_size` = its UTF-8
    *    bytes). It is decided first, so DNT does not suppress it;
    *  - DNT- (F1) and bounce-suppressed (F2) requests emit nothing;
    *  - every other request's payload (P1-P7) is built and serialized
    *    once. It is a good row (`partition_key` + `thrift`) when its wire
    *    size is below `maxBytes`, else a SizeViolation row (F6:
    *    `actual_size` = the wire size, `payload_prefix` = `maxBytes / 10`
    *    chars of the thrift toString()) — the reference's gate
    *    `wholeEventBytes >= maxBytes`. Its `reason` is
    *    [[SplitBatch.GetNotSplittable]] for a bodiless event and
    *    [[SplitBatch.PostNotSplit]] for a POST: this flat gate bad-rows an
    *    oversized POST whole where the reference would try to split it (a
    *    declared divergence; the split-aware routing is
    *    [[SplitBatch.routeWire]]).
    * One typed `mapPartitions` over the envelope columns with one thrift
    * [[ThriftPayload.Serializer]] per partition: no Catalyst projection
    * to plan and generate code for at every trigger. It decides with the
    * edge's per-request functions ([[HttpEdge]]) and gives the rows of
    * [[payloads]]' columns. No exchange on a stream ([[Spread]] is the
    * identity there), so it runs inside the streaming plan
    * ([[graft.CollectorApp.start]]) as well as over a batch. [[goodLeg]]
    * and [[badLeg]] are its two legs. */
  def route(env: DataFrame, cfg: CollectorConfig): DataFrame =
    Spread(env).select(RouteCols.map(col): _*)
      .mapPartitions { rows =>
        val build = new PayloadBuilder(cfg)
        rows.flatMap(build.route)
      }(Encoders.product[Routed]).toDF()

  /** The envelope columns [[route]] reads, in [[PayloadBuilder]]'s order. */
  private val RouteCols = Seq("event_id", "timestamp_ms", "querystring", "method", "path",
    "body", "content_type", "user_agent", "referer", "hostname", "remote_ip",
    "sp_anonymous", "cookie_sp", "cookie_dnt", "headers")

  /** [[route]]'s per-partition state and its per-envelope decision. */
  private final class PayloadBuilder(cfg: CollectorConfig) {
    private val ser = new ThriftPayload.Serializer
    private val collector = cfg.collectorName
    private val maxBytes = cfg.maxBytes

    def route(r: Row): Option[Routed] = {
      def s(i: Int): String = r.getString(i)
      val id = r.getLong(0)
      val ts = r.getLong(1)
      val qs = new HttpEdge.Qs(s(2))
      def bad(kind: String, prefix: String, size: Long, reason: String) =
        Some(Routed(id, good = false, null, null, ts, kind, prefix, Some(size), reason))
      val anon = !r.isNullAt(11)
      val path = s(4)
      val remoteIp = s(10)
      val cookieSp = s(12)
      if (!qs.valid)
        bad("GenericError", qs.raw, qs.raw.getBytes(java.nio.charset.StandardCharsets.UTF_8).length, null)
      else if (HttpEdge.dnt(cfg, s(13)) || HttpEdge.bounces(cfg, anon, qs, cookieSp, s(3), path))
        None
      else {
        val headers =
          if (r.isNullAt(14)) null
          else r.getSeq[String](14).filter(h => h != null && !Redacted.exists(h.startsWith) &&
            (!anon || !RedactedAnon.exists(h.startsWith)))
        val rec = PayloadRecord(
          CollectorConfig.PayloadSchemaUri,
          if (anon || remoteIp == null) "unknown" else remoteIp,
          ts, "UTF-8", collector, s(7), s(8),
          cfg.paths.foldLeft(path) { case (acc, (from, to)) => if (from == path) to else acc },
          qs.raw, s(5), headers, s(6), s(9),
          HttpEdge.networkUserId(anon, qs, cookieSp, id, cfg, withBounce = true))
        val wire = ser(rec)
        if (wire.length < maxBytes) {
          val key =
            if (cfg.useIpAsPartitionKey && !anon && remoteIp != null) remoteIp
            else HttpEdge.uuidify("pk" + id)
          Some(Routed(id, good = true, key, wire, ts, null, null, None, null))
        } else bad("SizeViolation", ThriftPayload.toStringRepr(rec).take(maxBytes / 10), wire.length,
          if (rec.body == null) SplitBatch.GetNotSplittable else SplitBatch.PostNotSplit)
      }
    }
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
}
