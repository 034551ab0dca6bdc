package graft.streaming

import graft.operators.CollectorConfig

import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.Locale
import java.util.regex.{Matcher, Pattern}

/** One HTTP request at the edge, as the server hands it to the response /
  * envelope logic. `eventId` is a server-assigned monotonic id (the
  * deterministic stand-in for the reference's random UUIDs — SURVEY
  * §7.4.3); `cookies` is the parsed `Cookie` header.
  */
final case class EdgeRequest(
    eventId: Long,
    timestampMs: Long,
    method: String,
    rawUri: String,
    body: Option[String],
    contentType: Option[String],
    userAgent: Option[String],
    referer: Option[String],
    host: String,
    remoteIp: Option[String],
    origin: Option[String],
    spAnonymous: Option[String],
    cookies: Map[String, String],
    headers: Seq[String]) {
  def path: String = rawUri.takeWhile(c => c != '?' && c != '#')
}

/** status / headers (ordered, repeatable names) / body bytes. */
final case class EdgeResponse(
    status: Int, headers: Seq[(String, String)], body: Array[Byte]) {
  def bodyString: String = new String(body, StandardCharsets.UTF_8)
  def header(name: String): Option[String] =
    headers.collectFirst { case (n, v) if n.equalsIgnoreCase(name) => v }
}

/** S6/P9 made literal: the per-request response tier of the collector —
  * the same decisions the pipeline computes as columns
  * ([[graft.operators.CollectorPipeline]] `responses` / `setCookieHeaders`
  * / `corsDecisions` / `redirects` / `bounces`), re-expressed as pure
  * per-request functions so a real HTTP server can answer synchronously
  * while the envelope itself flows into the streaming pipeline.
  *
  * Column-parity is the contract: `HttpEdgeSpec` replays the full
  * sf0.001 envelope corpus through BOTH implementations and asserts the
  * decisions agree row-for-row (every fixture slice — malformed
  * querystrings, anonymous, DNT, bounce, macro redirects — crosses both).
  * Route table and header assembly mirror the reference
  * (`CollectorRoute.scala:57-160`, `CollectorService.scala:120-199`):
  * bounce Location, Set-Cookie, Cache-Control, P3P,
  * Access-Control-Allow-Origin, Access-Control-Allow-Credentials.
  */
object HttpEdge {

  /** The 1×1 transparent GIF the reference serves for pixel routes
    * (`CollectorService.scala:72`). */
  val PixelBytes: Array[Byte] = java.util.Base64.getDecoder
    .decode("R0lGODlhAQABAPAAAP///wAAACH5BAEAAAAALAAAAAABAAEAAAICRAEAOw==")

  // ---- querystring (P2/P3/F7 mirrors of CollectorPipeline) ----

  private val QsRe = Pattern.compile("^[^?]*\\?([^#]*)(?:#.*)?$")

  /** Reference extraction regex (`CollectorRoute.scala:166-172`): no `?`
    * → None; bare `?` → Some(""). */
  def querystring(rawUri: String): Option[String] = {
    val m = QsRe.matcher(rawUri)
    if (m.matches()) Some(m.group(1)) else None
  }

  private val TokenRe =
    Pattern.compile("^[A-Za-z0-9_.~%+-]+(=[A-Za-z0-9_.~%+:/-]*)?$")

  /** F7 mirror of `CollectorPipeline.qsValid` (split keeps trailing
    * empties, exactly like Spark's two-arg `split`). */
  def qsValid(qs: Option[String]): Boolean = qs match {
    case None | Some("") => true
    case Some(s) => s.split("&", -1).forall(t => TokenRe.matcher(t).matches())
  }

  /** P3 mirror of `str_to_map(qs, "&", "=")` under LAST_WIN: entries split
    * on the FIRST `=`, bare keys map to null (absent here). */
  def qsMap(qs: String): Map[String, String] =
    qs.split("&", -1).foldLeft(Map.empty[String, String]) { (acc, entry) =>
      val kv = entry.split("=", 2)
      acc + (kv(0) -> (if (kv.length < 2) null else kv(1)))
    }

  /** `qp`: a single param, None when the querystring is malformed/absent
    * or the key unset (null-valued bare keys also read as None — matches
    * `element_at` returning SQL NULL). */
  def qp(qs: Option[String], key: String): Option[String] =
    if (!qsValid(qs)) None
    else qs.flatMap(s => qsMap(s).get(key)).flatMap(Option(_))

  /** Deterministic UUID mirror of `CollectorPipeline.uuidify`. */
  def uuidify(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20, 32)}"
  }

  // ---- per-request decisions (F1/F3/P6/P8/F2/F5/S4 mirrors) ----

  def anon(req: EdgeRequest): Boolean = req.spAnonymous.isDefined

  def dntSuppressed(req: EdgeRequest, cfg: CollectorConfig): Boolean =
    cfg.dntEnabled && req.cookies.get(cfg.dntCookieName).exists(v =>
      Pattern.matches("^(?:" + cfg.dntCookieValue + ")$", v))

  /** P6 with the F2 bounce fallback (`networkUserIdWithBounce`). */
  def networkUserId(req: EdgeRequest, cfg: CollectorConfig): String =
    if (anon(req)) CollectorConfig.NilUuid
    else {
      val qs = querystring(req.rawUri)
      qp(qs, "nuid")
        .orElse(req.cookies.get(cfg.cookieName))
        .getOrElse(
          if (qp(qs, cfg.bounceParamName).isDefined && cfg.bounceEnabled)
            cfg.bounceFallbackNuid
          else uuidify("nuid-gen" + req.eventId))
    }

  /** P6 as `setCookieHeaders` uses it (no bounce fallback). */
  def cookieNuid(req: EdgeRequest, cfg: CollectorConfig): String =
    if (anon(req)) CollectorConfig.NilUuid
    else {
      val qs = querystring(req.rawUri)
      qp(qs, "nuid")
        .orElse(req.cookies.get(cfg.cookieName))
        .getOrElse(uuidify("nuid-gen" + req.eventId))
    }

  private def originHosts(req: EdgeRequest): Seq[String] =
    req.origin.toSeq.flatMap(_.split("\\s+"))
      .map(_.replaceFirst("^https?://", "")).filter(_.nonEmpty)

  /** P8 mirror: first configured domain any Origin host matches exactly
    * or as dot-suffix; else the fallback. */
  def cookieDomain(req: EdgeRequest, cfg: CollectorConfig): Option[String] = {
    val hosts = originHosts(req)
    cfg.cookieDomains
      .find(d => hosts.exists(h => h == d || h.endsWith("." + d)))
      .orElse(cfg.fallbackDomain)
  }

  private val Rfc1123 = DateTimeFormatter
    .ofPattern("EEE, dd MMM yyyy HH:mm:ss 'GMT'", Locale.US)
    .withZone(ZoneOffset.UTC)

  /** P9 mirror of `setCookieHeaders`: None under DNT / SP-Anonymous /
    * cookie.enabled=false, else the rendered header value. */
  def setCookieHeader(req: EdgeRequest, cfg: CollectorConfig): Option[String] =
    if (!cfg.cookieEnabled || dntSuppressed(req, cfg) || anon(req)) None
    else {
      val expires =
        Rfc1123.format(Instant.ofEpochMilli(req.timestampMs + cfg.cookieExpirationMs))
      val flags =
        (if (cfg.cookieSecure) "; Secure" else "") +
          (if (cfg.cookieHttpOnly) "; HttpOnly" else "") +
          cfg.cookieSameSite.map("; SameSite=" + _).getOrElse("")
      Some(
        cfg.cookieName + "=" + cookieNuid(req, cfg) +
          "; Expires=" + expires +
          cookieDomain(req, cfg).map("; Domain=" + _).getOrElse("") +
          "; Path=/" + flags)
    }

  /** F5 mirror of `corsDecisions`: (allowed, allowOriginHeaderValue). */
  def cors(req: EdgeRequest, cfg: CollectorConfig): (Boolean, Option[String]) = {
    val whitelisting = cfg.corsEnabled && !cfg.corsDomains.contains("*")
    req.origin match {
      case None => (true, Some("*"))
      case Some(o) =>
        val host = o.replaceFirst("^https?://", "")
        val hostAllowed = cfg.corsDomains.exists { d =>
          if (d == "*") true
          else if (d.startsWith("*.")) host.endsWith(d.substring(1)) || host == d.substring(2)
          else host == d || host.endsWith("." + d)
        }
        if (!whitelisting) (true, Some(o))
        else if (hostAllowed) (true, Some(o))
        else (false, None)
    }
  }

  private val HostRe =
    Pattern.compile("^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)")

  /** `try_url_decode` mirror: None on malformed escapes. */
  def tryUrlDecode(s: String): Option[String] =
    try Some(java.net.URLDecoder.decode(s, "UTF-8"))
    catch { case _: IllegalArgumentException => None }

  private def targetHost(target: String): Option[String] = {
    val m = HostRe.matcher(target)
    if (m.find() && m.group(1).nonEmpty) Some(m.group(1)) else None
  }

  /** S4/F4 mirror of `redirects`: (target, allowed, location). */
  def redirect(req: EdgeRequest, cfg: CollectorConfig)
      : (Option[String], Boolean, Option[String]) = {
    val target = qp(querystring(req.rawUri), "u").flatMap(tryUrlDecode)
    val allowed = target.exists { t =>
      cfg.redirectDomains.isEmpty || {
        val h = targetHost(t)
        cfg.redirectDomains.exists(d => h.exists(x => x == d || x.endsWith("." + d)))
      }
    }
    val location =
      if (!allowed) None
      else target.map { t =>
        if (!cfg.redirectMacroEnabled) t
        else {
          val token = cfg.redirectMacroPlaceholder.getOrElse("${SP_NUID}")
          t.replaceAll(
            Pattern.quote(token),
            Matcher.quoteReplacement(networkUserId(req, cfg)))
        }
      }
    (target, allowed, location)
  }

  def isPixel(path: String): Boolean = path == "/i" || path == "/ice.png"
  def isRedirect(path: String): Boolean = path.startsWith("/r/")

  private val SegLetters = Set("i", "t", "p", "s", "g", "a")

  /** R10 config-gated bridge dispatch, the reference's bridgeMap + inner
    * routes exactly (`CollectorRoute.scala:80-90`;
    * `AnalyticsJsBridge.scala:28-42`: `com.segment/v1/<letter>` with the
    * six event letters, unknown letter → 400;
    * `AmplitudeBridge.scala:114-116`: `com.amplitude/2/{httpapi,batch}`).
    * A DISABLED bridge's paths fall through to the two-segment
    * collector route — which a three-segment path never matches, so
    * they 404 like the reference. */
  def bridgeArm(req: EdgeRequest, cfg: CollectorConfig): Option[String] = {
    val segs = req.path.split("/").filter(_.nonEmpty)
    if (segs.length != 3) None
    else (segs(0), segs(1)) match {
      case ("com.segment", "v1") if cfg.analyticsJsBridgeEnabled =>
        Some(if (SegLetters(segs(2))) "segment" else "segment-bad")
      case ("com.amplitude", "2") if cfg.amplitudeBridgeEnabled &&
          (segs(2) == "httpapi" || segs(2) == "batch") => Some("amplitude")
      case _ => None
    }
  }

  /** The reference's `pixelExpected` route flag (`CollectorRoute.scala:
    * 115-152`): pixel paths and GET/HEAD vendor/version routes serve the
    * GIF; POST routes don't. */
  def pixelExpected(req: EdgeRequest): Boolean =
    isPixel(req.path) ||
      ((req.method == "GET" || req.method == "HEAD") && !isRedirect(req.path))

  /** F2 mirror of `bounceSuppressed` + `bounces`: Some(location) when this
    * request must 302-to-self with the bounce marker. R10: the gate is the
    * reference's `pixelExpected && !redirect` (`CollectorService.scala:
    * 136-137`) — GET/HEAD vendor/version routes bounce too, not just
    * `/i`/`/ice.png` — and the marker value is the reference's literal
    * `true` (`CollectorService.scala:458`). */
  def bounceLocation(req: EdgeRequest, cfg: CollectorConfig): Option[String] = {
    val qs = querystring(req.rawUri)
    val suppressed = cfg.bounceEnabled && !anon(req) && qsValid(qs) &&
      qp(qs, "nuid").isEmpty && req.cookies.get(cfg.cookieName).isEmpty &&
      qp(qs, cfg.bounceParamName).isEmpty &&
      pixelExpected(req) && !isRedirect(req.path)
    if (!suppressed) None
    else {
      val prefix = qs.filter(_.nonEmpty).map(_ + "&").getOrElse("")
      val rel = req.path + "?" + prefix + cfg.bounceParamName + "=true"
      // forwardedProtocolHeader (`CollectorService.scala:444-455`): a
      // valid http/https value in the configured header makes the
      // Location absolute on that scheme (mirror of the pipeline column)
      val scheme = cfg.bounceForwardedProtocolHeader.flatMap { name =>
        req.headers.collectFirst {
          case h if h.toLowerCase.startsWith(name.toLowerCase + ":") =>
            h.substring(h.indexOf(':') + 1).trim.toLowerCase
        }.filter(v => v == "http" || v == "https")
      }
      Some(scheme.fold(rel)(s => s"$s://${req.host}$rel"))
    }
  }

  /** Response-kind mirror of `responses` (same CASE order). R10: method-
    * and gate-aware like the reference route table — bridge JSON only
    * for a POST on an ENABLED bridge (`CollectorService.scala:356-367`:
    * jsonResponse only when a bridge event rode in), GET/HEAD vendor
    * routes are pixel-expected (`CollectorRoute.scala:115-130` serves
    * the GIF), POST vendor routes answer "ok". */
  def responseKind(req: EdgeRequest, cfg: CollectorConfig): String = {
    val p = req.path
    val bridge = bridgeArm(req, cfg)
    if (isPixel(p)) "gif"
    else if (isRedirect(p) && !cfg.enableDefaultRedirect) "404"
    else if (isRedirect(p)) {
      val (target, allowed, _) = redirect(req, cfg)
      if (target.isDefined && allowed) "302" else "400"
    } else if (bridge.exists(a => a == "segment" || a == "amplitude") &&
        req.method == "POST") "json"
    else if (bridge.contains("segment-bad")) "400"
    else if (req.method == "GET" || req.method == "HEAD") "gif"
    else "ok"
  }

  // ---- full response assembly (reference header order) ----

  private def trackingHeaders(
      req: EdgeRequest, cfg: CollectorConfig, pixelExpected: Boolean,
      bounce: Option[String]): Seq[(String, String)] = {
    val (_, allowOrigin) = cors(req, cfg)
    bounce.map("Location" -> _).toSeq ++
      setCookieHeader(req, cfg).map("Set-Cookie" -> _).toSeq ++
      (if (pixelExpected)
        Seq("Cache-Control" -> "no-cache, no-store, must-revalidate")
      else Nil) ++
      Seq("P3P" -> cfg.p3pHeader) ++
      allowOrigin.map("Access-Control-Allow-Origin" -> _).toSeq ++
      Seq("Access-Control-Allow-Credentials" -> "true")
  }

  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)

  /** The full route table (`CollectorRoute.scala:57-160` +
    * `CollectorService` ops endpoints). `healthy` / `sinkHealthy` feed
    * `/health` and `/sink-health`. Returns the response; whether the
    * request produced a TRACKING envelope is [[isTracking]]. */
  def respond(
      req: EdgeRequest,
      cfg: CollectorConfig,
      healthy: Boolean = true,
      sinkHealthy: Boolean = true): EdgeResponse = {
    val p = req.path
    if (req.method == "OPTIONS") {
      val (allowed, allowOrigin) = cors(req, cfg)
      val status = if (allowed) 200 else 403
      EdgeResponse(status,
        allowOrigin.map("Access-Control-Allow-Origin" -> _).toSeq ++ Seq(
          "Access-Control-Allow-Credentials" -> "true",
          "Access-Control-Allow-Headers" -> "Content-Type, SP-Anonymous",
          "Access-Control-Max-Age" -> (cfg.corsMaxAgeMs / 1000).toString),
        Array.emptyByteArray)
    } else if (bridgeArm(req, cfg).contains("segment-bad")) {
      // reference segment bridge: unknown event letter answers 400 for
      // any method (`AnalyticsJsBridge.scala:81`: the else-arm completes
      // BadRequest outside the post directive)
      EdgeResponse(400, Nil, Array.emptyByteArray)
    } else if (!methodAllowed(req, cfg)) {
      // the reference's route table is method-gated (`CollectorRoute.scala:
      // 95-152`: vendor/version = post|get|head, pixels = get|head, ops =
      // get); anything unmatched falls to the 404 fallback — a PUT to /i
      // or a stray preflight-shaped DELETE never builds an event
      EdgeResponse(404, Nil, utf8("404 not found"))
    } else p match {
      case "/health" =>
        val (s, b) = OpsEndpoints.health(healthy); EdgeResponse(s, Nil, utf8(b))
      case "/sink-health" =>
        val (s, b) = OpsEndpoints.sinkHealth(sinkHealthy); EdgeResponse(s, Nil, utf8(b))
      case "/crossdomain.xml" =>
        val (s, b) = OpsEndpoints.flashCrossDomainPolicy(cfg)
        EdgeResponse(s,
          if (s == 200) Seq("Content-Type" -> "text/xml; charset=ISO-8859-1") else Nil,
          b.getBytes(StandardCharsets.ISO_8859_1))
      case "/robots.txt" =>
        val (s, b) = OpsEndpoints.robots; EdgeResponse(s, Nil, utf8(b))
      case "/" =>
        val (s, b) = OpsEndpoints.rootResponse(cfg)
        // configured rootResponse.headers ride only on the ENABLED
        // response (the reference's 404 fallback carries none)
        val hs = if (cfg.rootResponseEnabled) cfg.rootResponseHeaders.toSeq else Nil
        EdgeResponse(s, hs, utf8(b))
      case _ if isTracking(req) || bridgeArm(req, cfg).isDefined =>
        respondTracking(req, cfg)
      case _ =>
        EdgeResponse(404, Nil, utf8("404 not found"))
    }
  }

  /** Vendor/version, pixel, redirect and bridge paths all produce an
    * envelope (`CollectorRoute.scala:90-152`: exactly-two-segment paths,
    * `/i`, `/ice.png`). */
  def isTracking(req: EdgeRequest): Boolean = {
    val p = req.path
    isPixel(p) || isRedirect(p) || {
      val segs = p.split("/").filter(_.nonEmpty)
      segs.length == 2
    }
  }

  /** R10 method gate, mirroring the reference's route-table directives
    * (`CollectorRoute.scala:95-152`): pixel paths accept GET|HEAD only,
    * vendor/version paths POST|GET|HEAD, enabled-bridge paths POST only
    * (their routes are `post { ... }`), ops endpoints GET (HEAD allowed —
    * pekko's transparent-head regime); everything else 404s. OPTIONS is
    * handled before this gate (the global corsRoute). */
  def methodAllowed(req: EdgeRequest, cfg: CollectorConfig): Boolean =
    if (isPixel(req.path)) req.method == "GET" || req.method == "HEAD"
    else if (isTracking(req))
      req.method == "GET" || req.method == "HEAD" || req.method == "POST"
    else if (bridgeArm(req, cfg).isDefined) req.method == "POST"
    else req.method == "GET" || req.method == "HEAD"

  /** Should this exchange append a spool envelope? The route table's event
    * arm: a tracking-shaped path — or an enabled bridge path — under an
    * event-producing method. An OPTIONS preflight (or PUT/DELETE/garbage)
    * to `/i` is answered but never recorded — preflight traffic must not
    * inflate the good stream. */
  def producesEnvelope(req: EdgeRequest, cfg: CollectorConfig): Boolean =
    (isTracking(req) && methodAllowed(req, cfg)) ||
      (bridgeArm(req, cfg).exists(a => a == "segment" || a == "amplitude") &&
        req.method == "POST")

  private def respondTracking(req: EdgeRequest, cfg: CollectorConfig): EdgeResponse = {
    val p = req.path
    val kind = responseKind(req, cfg)
    // GET on a vendor/version route is pixel-expected in the reference
    // (`CollectorRoute.scala:115-130`) — same GIF as /i
    val pixelExpected = isPixel(p) ||
      ((req.method == "GET" || req.method == "HEAD") && !isRedirect(p))
    val bounce = bounceLocation(req, cfg)
    if (isRedirect(p)) {
      if (kind == "404") EdgeResponse(404, Nil, utf8("404 not found"))
      else {
        val (_, _, location) = redirect(req, cfg)
        val base = trackingHeaders(req, cfg, pixelExpected = false, bounce = None)
        location match {
          case Some(loc) => EdgeResponse(302, ("Location" -> loc) +: base, Array.emptyByteArray)
          case None => EdgeResponse(400, base, Array.emptyByteArray)
        }
      }
    } else {
      val headers = trackingHeaders(req, cfg, pixelExpected, bounce)
      bounce match {
        case Some(_) => EdgeResponse(302, headers, Array.emptyByteArray)
        case None =>
          if (pixelExpected)
            EdgeResponse(200, headers :+ ("Content-Type" -> "image/gif"), PixelBytes)
          else if (kind == "json")
            EdgeResponse(200, headers :+ ("Content-Type" -> "application/json"),
              utf8("""{"success":true}"""))
          else EdgeResponse(200, headers, utf8("ok"))
      }
    }
  }

  // ---- envelope spooling ----

  private def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def jopt(o: Option[String]): String = o.map(jstr).getOrElse("null")

  /** One JSONL envelope record with exactly the
    * [[graft.sources.EventEnvelopeAdapter.envelopes]] schema, so the spool
    * is a drop-in streaming source for [[graft.CollectorApp.start]]. The
    * `cookie_sp` / `cookie_dnt` columns carry the request cookies under
    * the CONFIGURED names (the pipeline reads them positionally). */
  def envelopeJson(req: EdgeRequest, cfg: CollectorConfig): String = {
    val qs = querystring(req.rawUri)
    "{" +
      s""""event_id":${req.eventId},""" +
      s""""method":${jstr(req.method)},""" +
      s""""path":${jstr(req.path)},""" +
      s""""raw_uri":${jstr(req.rawUri)},""" +
      s""""body":${jopt(req.body)},""" +
      s""""content_type":${jopt(req.contentType)},""" +
      s""""user_agent":${jopt(req.userAgent)},""" +
      s""""referer":${jopt(req.referer)},""" +
      s""""hostname":${jstr(req.host)},""" +
      s""""remote_ip":${jopt(req.remoteIp)},""" +
      s""""origin":${jopt(req.origin)},""" +
      s""""sp_anonymous":${jopt(req.spAnonymous)},""" +
      s""""cookie_sp":${jopt(req.cookies.get(cfg.cookieName))},""" +
      s""""cookie_dnt":${jopt(req.cookies.get(cfg.dntCookieName))},""" +
      s""""headers":[${req.headers.map(jstr).mkString(",")}],""" +
      s""""timestamp_ms":${req.timestampMs},""" +
      s""""querystring":${jopt(qs)}""" +
      "}"
  }

  /** The envelope schema for `spark.readStream.schema(...).json(spool)`. */
  def envelopeSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("method", StringType),
      StructField("path", StringType),
      StructField("raw_uri", StringType),
      StructField("body", StringType),
      StructField("content_type", StringType),
      StructField("user_agent", StringType),
      StructField("referer", StringType),
      StructField("hostname", StringType),
      StructField("remote_ip", StringType),
      StructField("origin", StringType),
      StructField("sp_anonymous", StringType),
      StructField("cookie_sp", StringType),
      StructField("cookie_dnt", StringType),
      StructField("headers", ArrayType(StringType)),
      StructField("timestamp_ms", LongType),
      StructField("querystring", StringType)))
  }
}
