package graft

import graft.operators.{Bridges, CollectorConfig, CollectorPipeline, SinkSettings}
import graft.sources.EventEnvelopeAdapter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral parity suite — the Spark analog of the reference's
  * CollectorServiceSpec assertions (DNT, SP-Anonymous, nuid precedence,
  * path remap, bad rows, redirect allowlist). */
class CollectorPipelineSpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark
  private lazy val spark2 = TestSpark.spark
  private val cfg = CollectorConfig.testScale
  private lazy val env = EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf).cache()
  private lazy val payloads = CollectorPipeline.payloads(env, cfg).cache()

  test("DNT-suppressed and malformed-qs rows never reach payloads") {
    val ids = payloads.select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    // %17 rows carry the malformed querystring ONLY when the raw URI has
    // one at all — a %17 row in the no-'?' (%19) or bare-'?' (%29) slice
    // has nothing to fail parsing and is legitimately good (P2 semantics)
    def hasQs(id: Long) = id % 19 != 0 && id % 29 != 0
    assert(!ids.exists(id => id % 13 == 0 || (id % 17 == 0 && hasQs(id))))
    assert(ids.exists(id => id % 17 == 0 && !hasQs(id)), "P2 no-qs slice missing")
    assert(ids.nonEmpty)
  }

  test("SP-Anonymous rows: ip unknown, nil nuid, redacted headers, uuid partition key") {
    val anon = payloads.filter(col("event_id") % 11 === 0)
    assert(anon.count() > 0)
    assert(anon.filter(col("ip") =!= "unknown").count() === 0)
    assert(anon.filter(col("network_userid") =!= CollectorConfig.NilUuid).count() === 0)
    assert(anon.filter(col("headers_str").contains("X-Forwarded-For")).count() === 0)
    assert(anon.filter(col("headers_str").contains("Cookie:")).count() === 0)
    // partition key must not be the client IP
    assert(anon.filter(col("partition_key").startsWith("10.")).count() === 0)
  }

  test("headers never contain Remote-Address; non-anon rows keep XFF") {
    assert(payloads.filter(col("headers_str").contains("Remote-Address")).count() === 0)
    val nonAnon = payloads.filter(col("event_id") % 11 =!= 0 && col("event_id") % 7 =!= 0)
    assert(nonAnon.filter(col("headers_str").contains("X-Forwarded-For")).count() === nonAnon.count())
  }

  test("nuid precedence: query param beats cookie beats generated") {
    val withQp = payloads.filter(col("event_id") % 3 === 0 && col("event_id") % 11 =!= 0)
    // qp value is uuidify("nuid"+user_id): verify against recomputation from the envelope
    val joined = withQp
      .join(env.select(col("event_id"), col("querystring").as("qs2")), "event_id")
      .withColumn("expected", CollectorPipeline.qp(col("qs2"), "nuid"))
    assert(joined.filter(col("network_userid") =!= col("expected")).count() === 0)
  }

  test("path remap rewrites /com.acme/track to the canonical tp2 path") {
    assert(payloads.filter(col("path") === "/com.acme/track").count() === 0)
    val remapped = env.filter(col("path") === "/com.acme/track").count()
    assert(remapped > 0)
  }

  test("bad rows: GenericError keeps querystring, SizeViolation truncates to maxBytes/10") {
    val bad = CollectorPipeline.badRows(env, cfg).cache()
    val ge = bad.filter(col("bad_row_type") === "GenericError")
    assert(ge.count() > 0)
    assert(ge.filter(col("payload_prefix") =!= "e=%%bad&&==").count() === 0)
    val sv = bad.filter(col("bad_row_type") === "SizeViolation")
    assert(sv.count() > 0)
    assert(sv.filter(length(col("payload_prefix")) =!= cfg.maxBytes / 10).count() === 0)
    // reference gate is wholeEventBytes >= maxBytes (SplitBatch.scala:87)
    assert(sv.filter(col("actual_size") < cfg.maxBytes).count() === 0)
    // the prefix is the thrift toString rendering, not the raw body
    assert(sv.filter(!col("payload_prefix").startsWith("CollectorPayload(schema:")).count() === 0)
  }

  test("redirects: allowlisted hosts 302, others rejected with null location") {
    val r = CollectorPipeline.redirects(env, cfg).cache()
    assert(r.count() > 0)
    assert(r.filter(col("allowed") && !col("target").contains(".example.com")).count() === 0)
    assert(r.filter(!col("allowed") && col("location").isNotNull).count() === 0)
    assert(r.filter(col("allowed")).count() > 0)
    assert(r.filter(!col("allowed")).count() > 0)
  }

  test("F8: disabled default redirect drops /r/* rows and 404s the response") {
    val off = cfg.copy(enableDefaultRedirect = false)
    assert(CollectorPipeline.redirects(env, off).count() === 0)
    val kinds = CollectorPipeline.responses(env, off)
      .join(env.select(col("event_id"), col("path")), "event_id")
      .filter(col("path").startsWith("/r/"))
      .select("response_kind").distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds === Set("404"))
    // enabled config (the oracle default) still emits both 302 and 400
    assert(CollectorPipeline.redirects(env, cfg).count() > 0)
  }

  test("cookie domain: first configured domain matching any origin wins, else fallback") {
    import spark2.implicits._
    val d = Seq(
      (1L, Seq("a.shop.example.com", "other.net")),
      (2L, Seq("example.org")),
      (3L, Seq("sub.other.net")),
      (4L, Seq.empty[String]),
    ).toDF("id", "origins")
    val out = d.select(col("id"), CollectorPipeline.cookieDomain(
      col("origins"), Seq("example.com", "other.net"), Some("fallback.example"))
      .as("dom")).as[(Long, String)].collect().toMap
    assert(out(1L) === "example.com") // config order, not origin order
    assert(out(2L) === "fallback.example")
    assert(out(3L) === "other.net")
    assert(out(4L) === "fallback.example")
  }

  test("S7 config source: reference-shaped document parses into the config model") {
    // key layout mirrors examples/config.kinesis.extended.hocon's
    // `collector` namespace (JSON subset of HOCON)
    val doc =
      """{"collector": {
        |  "appName": "snowcat", "appVersion": "2.0.0", "sinkName": "kinesis",
        |  "paths": {"/com.acme/track": "/com.snowplowanalytics.snowplow/tp2"},
        |  "cookie": {"name": "spx", "secure": false, "httpOnly": true,
        |             "sameSite": "Lax", "domains": ["a.example.com"],
        |             "fallbackDomain": "fb.example.com", "expirationMs": 1000},
        |  "doNotTrackCookie": {"name": "dnt", "value": "yes|1"},
        |  "cookieBounce": {"enabled": true, "name": "nb"},
        |  "redirectDomains": ["r.example.com"],
        |  "cors": {"enabled": true, "domains": ["*.allowed.example.com"]},
        |  "streams": {"useIpAddressAsPartitionKey": false,
        |              "sink": {"maxBytes": 12345}}
        |}}""".stripMargin
    val cfg = CollectorConfig.fromJson(doc)
    assert(cfg.collectorName === "snowcat-2.0.0-kinesis")
    assert(cfg.cookieName === "spx")
    assert(!cfg.cookieSecure && cfg.cookieHttpOnly && cfg.cookieSameSite === Some("Lax"))
    assert(cfg.cookieDomains === Seq("a.example.com"))
    assert(cfg.fallbackDomain === Some("fb.example.com"))
    assert(cfg.cookieExpirationMs === 1000L)
    assert(cfg.dntCookieName === "dnt" && cfg.dntCookieValue === "yes|1")
    assert(cfg.bounceEnabled && cfg.bounceParamName === "nb")
    assert(cfg.paths === Map("/com.acme/track" -> "/com.snowplowanalytics.snowplow/tp2"))
    assert(cfg.redirectDomains === Set("r.example.com"))
    assert(cfg.corsEnabled && cfg.corsDomains === Seq("*.allowed.example.com"))
    assert(cfg.maxBytes === 12345 && !cfg.useIpAsPartitionKey)
    // empty document = the defaults
    assert(CollectorConfig.fromJson("{}") === CollectorConfig())
  }

  test("telemetry heartbeat payload is valid self-describing JSON with app fields") {
    val p = graft.streaming.Telemetry.heartbeatPayload(cfg, Some("user-1"), None)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p)
    assert(node.get("schema").asText === graft.streaming.Telemetry.SchemaUri)
    assert(node.get("data").get("applicationName").asText === cfg.appName)
    assert(node.get("data").get("userProvidedId").asText === "user-1")
    assert(!node.get("data").has("region"))
    // r11: the deployment-injected identity quartet rides in from the
    // parsed telemetry block (reference model.scala:205-209 →
    // TelemetryPayload.scala:19-25); absent options stay absent
    assert(!node.get("data").has("moduleName") && !node.get("data").has("instanceId"))
    val injected = CollectorConfig.fromJson(
      """{"collector": {"telemetry": {
        |  "userProvidedId": "org-7", "moduleName": "collector-kinesis",
        |  "moduleVersion": "1.2.3", "instanceId": "i-abc123",
        |  "autoGeneratedId": "gen-9"
        |}}}""".stripMargin)
    val p2 = graft.streaming.Telemetry.heartbeatPayload(injected, None, None)
    val d2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p2).get("data")
    assert(d2.get("userProvidedId").asText === "org-7") // config value when no override
    assert(d2.get("moduleName").asText === "collector-kinesis")
    assert(d2.get("moduleVersion").asText === "1.2.3")
    assert(d2.get("instanceId").asText === "i-abc123")
    assert(d2.get("autoGeneratedId").asText === "gen-9")
    // explicit override still wins over the config value
    val p3 = graft.streaming.Telemetry.heartbeatPayload(injected, Some("cli-0"), None)
    assert(new com.fasterxml.jackson.databind.ObjectMapper().readTree(p3)
      .get("data").get("userProvidedId").asText === "cli-0")
    // scheduler fires promptly and is cancelable
    val seen = new java.util.concurrent.CountDownLatch(1)
    val fut = graft.streaming.Telemetry.schedule(cfg, 60, _ => seen.countDown())
    assert(seen.await(10, java.util.concurrent.TimeUnit.SECONDS))
    fut.cancel(true)
  }

  test("telemetry wire transport POSTs the tracker envelope to tp2 on a live socket") {
    import graft.streaming.Telemetry
    // a local receiver standing in for the configured telemetry host
    val got = new java.util.concurrent.LinkedBlockingQueue[(String, String, String)]()
    val rcv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    rcv.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      got.put((ex.getRequestMethod, ex.getRequestURI.toString, body))
      ex.sendResponseHeaders(200, -1L); ex.close()
    })
    rcv.start()
    try {
      val cfg = CollectorConfig(
        appName = "graft-wire",
        sink = SinkSettings.defaultsFor("kinesis").copy(region = Some("us-east-1")),
        telemetry = graft.operators.TelemetrySettings(
          url = "127.0.0.1", port = rcv.getAddress.getPort, secure = false))
      val send = Telemetry.httpSender(cfg, clock = () => 1700000000123L)
      send(Telemetry.heartbeatForConfig(cfg))
      val (method, uri, body) = got.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      // reference SyncEmitter endpoint: POST {url}:{port}/com.snowplowanalytics.snowplow/tp2
      assert(method === "POST")
      assert(uri === "/com.snowplowanalytics.snowplow/tp2")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(body)
      assert(node.get("schema").asText === Telemetry.PayloadDataSchemaUri)
      val ev = node.get("data").get(0)
      assert(ev.get("e").asText === "ue")
      assert(ev.get("tna").asText === "telemetry") // the reference's tracker namespace
      assert(ev.get("aid").asText === "graft-wire") // appName, as the reference's Tracker
      assert(ev.get("dtm").asText === "1700000000123")
      // ue_pr is the JSON-escaped unstruct envelope around the heartbeat
      val ue = om.readTree(ev.get("ue_pr").asText)
      assert(ue.get("schema").asText === Telemetry.UnstructSchemaUri)
      val hb = ue.get("data")
      assert(hb.get("schema").asText === Telemetry.SchemaUri)
      assert(hb.get("data").get("cloud").asText === "AWS")
      assert(hb.get("data").get("applicationName").asText === "graft-wire")
      // a dead endpoint is swallowed + logged, never thrown (reference
      // emitterCallback discipline: telemetry must not kill the collector)
      rcv.stop(0)
      val logs = scala.collection.mutable.ArrayBuffer.empty[String]
      val send2 = Telemetry.httpSender(cfg, log = logs += _)
      send2(Telemetry.heartbeatForConfig(cfg)) // must not throw
      assert(logs.exists(_.contains("telemetry failed")) || logs.exists(_.contains("unexpected HTTP")))
    } finally rcv.stop(0)
  }

  test("telemetry cloud-vendor detection matches the reference trichotomy") {
    // ref telemetry/TelemetryAkkaService.scala:119-124: Kinesis/Sqs → AWS
    // with the sink region, GooglePubSub → GCP without one, else neither
    import graft.streaming.Telemetry
    def sinkCfg(kind: String, region: Option[String] = None) =
      CollectorConfig(sink = SinkSettings.defaultsFor(kind).copy(region = region))
    assert(Telemetry.detectCloud(sinkCfg("kinesis", Some("us-east-1")).sink)
      === (Some("AWS"), Some("us-east-1")))
    assert(Telemetry.detectCloud(sinkCfg("sqs", Some("eu-central-1")).sink)
      === (Some("AWS"), Some("eu-central-1")))
    assert(Telemetry.detectCloud(sinkCfg("google-pub-sub").sink) === (Some("GCP"), None))
    assert(Telemetry.detectCloud(sinkCfg("stdout").sink) === (None, None))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val aws = om.readTree(Telemetry.heartbeatForConfig(sinkCfg("kinesis", Some("us-east-1"))))
    assert(aws.get("data").get("cloud").asText === "AWS")
    assert(aws.get("data").get("region").asText === "us-east-1")
    val gcp = om.readTree(Telemetry.heartbeatForConfig(sinkCfg("pubsub")))
    assert(gcp.get("data").get("cloud").asText === "GCP")
    assert(!gcp.get("data").has("region"))
    val none = om.readTree(Telemetry.heartbeatForConfig(sinkCfg("stdout")))
    assert(!none.get("data").has("cloud") && !none.get("data").has("region"))
  }

  /** Literal-value buildEvent golden — the reference's canonical-request
    * assertions (`CollectorServiceSpec.scala:357-474`) ported field by
    * field: every expected value below is the reference's own literal,
    * not a recomputation through the code under test. */
  test("buildEvent golden: literal field values for the canonical request") {
    import spark2.implicits._
    def optLit(o: Option[String]) = o.map(lit).getOrElse(lit(null).cast("string"))
    def envRow(eventId: Long, qs: Option[String], anon: Option[String],
        headers: Seq[String]) =
      Seq(eventId).toDF("event_id").select(
        col("event_id"),
        lit("POST").as("method"),
        lit("p").as("path"),
        optLit(qs).as("querystring"),
        lit("b").as("body"),
        lit("image/gif").as("content_type"),
        lit("ua").as("user_agent"),
        lit("ref").as("referer"),
        lit("h").as("hostname"),
        lit(if (anon.isDefined) "127.0.0.1" else "ip").as("remote_ip"),
        lit(null).cast("string").as("origin"),
        optLit(anon).as("sp_anonymous"),
        lit("nuid").as("cookie_sp"),
        lit(null).cast("string").as("cookie_dnt"),
        typedLit(headers).as("headers"),
        lit(1700000000123L).as("timestamp_ms"))
    // reference config renders collector = "app-version-kinesis"
    val refCfg = CollectorConfig(appName = "app", appVersion = "version", sinkName = "kinesis")
    val plain = envRow(101L, Some("q"), None,
      Seq("Location: l", "X-Forwarded-For: 127.0.0.1", "Remote-Address: 127.0.0.1", "image/gif"))
    val anon = envRow(102L, Some("q"), Some("*"),
      Seq("Location: l", "X-Forwarded-For: 127.0.0.1", "Remote-Address: 127.0.0.1",
        "Cookie: sp=nuid", "image/gif"))
    val noQs = envRow(103L, None, Some("*"), Seq("Location: l", "image/gif"))
    val out = CollectorPipeline.payloads(plain.union(anon).union(noQs), refCfg)
      .collect().map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(out.size === 3)

    // "fill the correct values if SP-Anonymous is not present"
    val e = out(101L)
    assert(e.getAs[String]("schema_uri") ===
      "iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0")
    assert(e.getAs[String]("ip") === "ip")
    assert(e.getAs[String]("encoding") === "UTF-8")
    assert(e.getAs[String]("collector") === "app-version-kinesis")
    assert(e.getAs[String]("querystring") === "q")
    assert(e.getAs[String]("body") === "b")
    assert(e.getAs[String]("path") === "p")
    assert(e.getAs[String]("user_agent") === "ua")
    assert(e.getAs[String]("referer_uri") === "ref")
    assert(e.getAs[String]("hostname") === "h")
    assert(e.getAs[String]("network_userid") === "nuid") // cookie-resolved
    assert(e.getAs[Seq[String]]("headers") ===
      Seq("Location: l", "X-Forwarded-For: 127.0.0.1", "image/gif"))
    assert(e.getAs[String]("content_type") === "image/gif")
    assert(e.getAs[Long]("timestamp_ms") === 1700000000123L)
    assert(e.getAs[String]("partition_key") === "ip") // useIpAsPartitionKey

    // "fill the correct values if SP-Anonymous is present"
    val a = out(102L)
    assert(a.getAs[String]("ip") === "unknown")
    assert(a.getAs[String]("network_userid") === "00000000-0000-0000-0000-000000000000")
    assert(a.getAs[Seq[String]]("headers") === Seq("Location: l", "image/gif"))
    assert(a.getAs[String]("content_type") === "image/gif")
    // anonymous events never key by client IP
    assert(a.getAs[String]("partition_key") !== "127.0.0.1")
    assert(a.getAs[String]("partition_key")
      .matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))

    // "have a null queryString if it's None"
    val n = out(103L)
    assert(n.getAs[String]("querystring") === null)
    assert(n.getAs[String]("body") === "b")
    assert(n.getAs[String]("network_userid") === "00000000-0000-0000-0000-000000000000")
  }

  test("amplitude bridge resolves $remote to caller ip or unknown") {
    val amp = Bridges.amplitudeEvents(env).cache()
    assert(amp.count() > 0)
    assert(amp.filter(col("ip_resolved") === "$remote").count() === 0)
    assert(amp.filter(col("ip_resolved").startsWith("10.")).count() > 0)
    assert(amp.filter(col("ip_resolved") === "1.2.3.4").count() > 0)
  }

  test("tp2 explode yields 1 + event_id % 3 elements per request") {
    val t = Bridges.tp2Events(env).groupBy("event_id").count()
    assert(t.filter(col("count") =!= (col("event_id") % 3) + 1).count() === 0)
  }

  /** Literal pixel-request envelope for the bounce goldens. */
  private def pixelRow(eventId: Long, qs: Option[String], cookie: Option[String]) = {
    import spark2.implicits._
    def optLit(o: Option[String]) = o.map(lit).getOrElse(lit(null).cast("string"))
    Seq(eventId).toDF("event_id").select(
      col("event_id"),
      lit("GET").as("method"),
      lit("/i").as("path"),
      optLit(qs).as("querystring"),
      lit(null).cast("string").as("body"),
      lit(null).cast("string").as("content_type"),
      lit("ua").as("user_agent"),
      lit(null).cast("string").as("referer"),
      lit("h").as("hostname"),
      lit("ip").as("remote_ip"),
      lit(null).cast("string").as("origin"),
      lit(null).cast("string").as("sp_anonymous"),
      optLit(cookie).as("cookie_sp"),
      lit(null).cast("string").as("cookie_dnt"),
      typedLit(Seq.empty[String]).as("headers"),
      lit(1700000000123L).as("timestamp_ms"))
  }

  /** Cookie-bounce goldens — reference `CollectorServiceSpec.scala:197-240`
    * ported as fully-specified envelope → expected-value fixtures (their
    * bouncingService: bounce enabled, param "bounce", fallback nuid
    * "new-nuid"). Expected values are the reference's literals, adapted
    * only where our wire shape differs by declared convention (original
    * path preserved in the location; the marker value is the
    * reference-exact "true" since r10). */
  test("bounce goldens: first pass redirects, second pass stores the fallback nuid") {
    val bCfg = CollectorConfig(bounceEnabled = true, bounceParamName = "bounce",
      bounceFallbackNuid = "new-nuid")

    // "attach the cookie to the response" — a cookie present means NO
    // bounce, and the stored payload carries the cookie's nuid
    val withCookie = pixelRow(1L, None, Some("cookie-nuid"))
    val r1 = CollectorPipeline.bounces(withCookie, bCfg).collect().head
    assert(!r1.getAs[Boolean]("bounced"))
    assert(r1.getAs[String]("location") === null)
    val p1 = CollectorPipeline.payloads(withCookie, bCfg).collect().head
    assert(p1.getAs[String]("network_userid") === "cookie-nuid")

    // "not store stuff if bouncing and provide a location header" — no
    // cookie, no bounce marker: redirect out, nothing reaches payloads
    val firstPass = pixelRow(2L, None, None)
    val r2 = CollectorPipeline.bounces(firstPass, bCfg).collect().head
    assert(r2.getAs[Boolean]("bounced"))
    assert(r2.getAs[String]("location") === "/i?bounce=true")
    assert(CollectorPipeline.payloads(firstPass, bCfg).count() === 0)
    // original querystring is preserved in the bounce location
    val withQs = pixelRow(3L, Some("e=pv&aid=app1"), None)
    assert(CollectorPipeline.bounces(withQs, bCfg).collect().head
      .getAs[String]("location") === "/i?e=pv&aid=app1&bounce=true")

    // "store stuff if having already bounced with the fallback nuid" —
    // marker present, still no cookie: store with the configured fallback
    val secondPass = pixelRow(4L, Some("bounce=1"), None)
    val r4 = CollectorPipeline.bounces(secondPass, bCfg).collect().head
    assert(!r4.getAs[Boolean]("bounced"))
    val p4 = CollectorPipeline.payloads(secondPass, bCfg).collect().head
    assert(p4.getAs[String]("network_userid") === "new-nuid")

    // bounce disabled (the default config) never redirects
    assert(CollectorPipeline.bounces(firstPass, CollectorConfig())
      .filter(col("bounced")).count() === 0)
  }

  /** forwardedProtocolHeader goldens — reference
    * `CollectorServiceSpec.scala:700-717` ("location header with
    * forwarded protocol"): a valid http/https value in the configured
    * header makes the bounce Location absolute on that scheme; an
    * invalid value falls back. Both the pipeline column and the edge
    * mirror are asserted. */
  test("bounce forwardedProtocolHeader goldens: absolute scheme when valid, fallback otherwise") {
    import graft.streaming.{EdgeRequest, HttpEdge}
    val bCfg = CollectorConfig(bounceEnabled = true, bounceParamName = "bounce",
      bounceForwardedProtocolHeader = Some("X-Forwarded-Proto"))
    def withHeaders(hs: Seq[String]) = {
      import spark2.implicits._
      pixelRow(10L, Some("a=b"), None)
        .withColumn("headers", typedLit(hs))
    }
    def loc(hs: Seq[String]): String =
      CollectorPipeline.bounces(withHeaders(hs), bCfg).collect().head.getAs[String]("location")
    // reference golden: "https://st?a=b&bounce=true" shape (our host is
    // the fixture's hostname 'h', path '/i')
    assert(loc(Seq("X-Forwarded-Proto: https")) === "https://h/i?a=b&bounce=true")
    assert(loc(Seq("X-Forwarded-Proto: http")) === "http://h/i?a=b&bounce=true")
    // invalid protocol value → relative fallback (reference logs + drops)
    assert(loc(Seq("X-Forwarded-Proto: gopher")) === "/i?a=b&bounce=true")
    assert(loc(Nil) === "/i?a=b&bounce=true")
    // case-insensitive header match, value trimmed
    assert(loc(Seq("x-forwarded-proto:  HTTPS ")) === "https://h/i?a=b&bounce=true")
    // edge mirror row-for-row
    def edgeLoc(hs: Seq[String]): Option[String] =
      HttpEdge.bounceLocation(EdgeRequest(
        eventId = 10L, timestampMs = 0L, method = "GET", rawUri = "/i?a=b",
        body = None, contentType = None, userAgent = None, referer = None,
        host = "h", remoteIp = None, origin = None, spAnonymous = None,
        cookies = Map.empty, headers = hs), bCfg)
    assert(edgeLoc(Seq("X-Forwarded-Proto: https")) === Some("https://h/i?a=b&bounce=true"))
    assert(edgeLoc(Seq("X-Forwarded-Proto: gopher")) === Some("/i?a=b&bounce=true"))
    assert(edgeLoc(Nil) === Some("/i?a=b&bounce=true"))
  }

  test("enable gates: DNT off stores DNT rows; cookie off emits no Set-Cookie") {
    // reference ships doNotTrackCookie.enabled = false — with the gate
    // off, the %13 DNT slice must reach payloads like any other row
    val dntOff = cfg.copy(dntEnabled = false)
    val stored = CollectorPipeline.payloads(env, dntOff)
      .filter(col("event_id") % 13 === 0).count()
    assert(stored > 0, "DNT rows suppressed despite the gate being off")
    // and cookie.enabled = false silences the Set-Cookie header entirely
    val cookieOff = CollectorConfig.cookieScale.copy(cookieEnabled = false)
    val cookies = CollectorPipeline.setCookieHeaders(env, cookieOff)
    assert(cookies.filter(col("emitted")).count() === 0)
    assert(cookies.filter(col("set_cookie").isNotNull).count() === 0)
  }

  /** Redirect envelope for the macro/allowlist goldens. */
  private def redirectRow(eventId: Long, qs: String) = {
    import spark2.implicits._
    Seq(eventId).toDF("event_id").select(
      col("event_id"),
      lit("GET").as("method"),
      lit("/r/tp2").as("path"),
      lit(qs).as("querystring"),
      lit(null).cast("string").as("body"),
      lit(null).cast("string").as("content_type"),
      lit("ua").as("user_agent"),
      lit(null).cast("string").as("referer"),
      lit("h").as("hostname"),
      lit("ip").as("remote_ip"),
      lit(null).cast("string").as("origin"),
      lit(null).cast("string").as("sp_anonymous"),
      lit(null).cast("string").as("cookie_sp"),
      lit(null).cast("string").as("cookie_dnt"),
      typedLit(Seq.empty[String]).as("headers"),
      lit(1700000000123L).as("timestamp_ms"))
  }

  /** Redirect macro + allowlist goldens — reference
    * `CollectorServiceSpec.scala:549-605` (buildRedirectHttpResponse)
    * ported as envelope → expected-location fixtures. The reference's
    * TestUtils allowlist entry is "localhost"; networkUserId is pinned to
    * "1234" via the nuid query param (their `event.networkUserId = "1234"`). */
  test("redirect goldens: macro gating, custom placeholder, allowlist, empty-list permissive") {
    val rCfg = CollectorConfig(redirectDomains = Set("localhost"))
    def loc(df: org.apache.spark.sql.DataFrame, cfg: CollectorConfig): String =
      CollectorPipeline.redirects(df, cfg).collect().head.getAs[String]("location")

    // "give back a 302 if redirecting and there is a u query param"
    assert(loc(redirectRow(1L, "u=http%3A%2F%2Flocalhost%2F12"), rCfg)
      === "http://localhost/12")
    // "give back a 400 if redirecting and there are no u query params"
    val noU = CollectorPipeline.redirects(redirectRow(2L, "e=pv"), rCfg).collect().head
    assert(noU.getAs[String]("target") === null && !noU.getAs[Boolean]("allowed"))
    assert(CollectorPipeline.responses(redirectRow(2L, "e=pv"), rCfg)
      .collect().head.getAs[String]("response_kind") === "400")
    // "ignore a cookie replacement macro on redirect if not enabled"
    assert(loc(redirectRow(3L, "u=http%3A%2F%2Flocalhost%2F%3Fuid%3D%24%7BSP_NUID%7D&nuid=1234"), rCfg)
      === "http://localhost/?uid=${SP_NUID}")
    // "support a cookie replacement macro on redirect if enabled"
    assert(loc(redirectRow(4L, "u=http%3A%2F%2Flocalhost%2F%3Fuid%3D%24%7BSP_NUID%7D&nuid=1234"),
      rCfg.copy(redirectMacroEnabled = true))
      === "http://localhost/?uid=1234")
    // "allow for custom token placeholders"
    assert(loc(redirectRow(5L, "u=http%3A%2F%2Flocalhost%2F%3Fuid%3D%5BTOKEN%5D&nuid=1234"),
      rCfg.copy(redirectMacroEnabled = true, redirectMacroPlaceholder = Some("[TOKEN]")))
      === "http://localhost/?uid=1234")
    // "allow for double encoding for return redirects" — decoded ONCE
    assert(loc(redirectRow(6L, "u=http%3A%2F%2Flocalhost%2Fa%253Db"), rCfg)
      === "http://localhost/a%3Db")
    // "give back a 400 if redirecting to a disallowed domain"
    val bad = CollectorPipeline.redirects(
      redirectRow(7L, "u=http%3A%2F%2Finvalid.acme.com%2F12"), rCfg).collect().head
    assert(!bad.getAs[Boolean]("allowed") && bad.getAs[String]("location") === null)
    // "give back a 302 ... with no restrictions on domains" (empty set =
    // the reference's shipped default; used to throw on .reduce)
    assert(loc(redirectRow(8L, "u=http%3A%2F%2Funknown.acme.com%2F12"),
      rCfg.copy(redirectDomains = Set.empty))
      === "http://unknown.acme.com/12")
    assert(CollectorPipeline.responses(redirectRow(8L, "u=http%3A%2F%2Funknown.acme.com%2F12"),
      rCfg.copy(redirectDomains = Set.empty)).collect().head.getAs[String]("response_kind") === "302")
  }
}
