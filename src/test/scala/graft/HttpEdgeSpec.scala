package graft

import graft.operators.{CollectorConfig, CollectorPipeline}
import graft.sources.EventEnvelopeAdapter
import graft.sinks.ParquetDirSink
import graft.streaming.{HttpEdge, HttpEdgeServer}
import org.scalatest.funsuite.AnyFunSuite

import java.io.{BufferedOutputStream, ByteArrayOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The HTTP edge tier: its decisions over envelope rows, plus
  * live-socket behavior of every route.
  */
class HttpEdgeSpec extends AnyFunSuite with WallBudget {
  private val spark = TestSpark.spark
  import CollectorConfig._

  test("edge envelope JSON round-trips through the spark schema to the adapter's columns") {
    // the envelope-row → EdgeRequest conversion (HttpEdge.request) is the
    // inverse of envelopeJson: every corpus row spools back to its columns
    import org.apache.spark.sql.functions.col
    val cfg = testScale
    val env = EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf)
    val lines = env.select(HttpEdge.RequestCols.map(col): _*).collect()
      .map(r => HttpEdge.envelopeJson(HttpEdge.request(r, cfg), cfg))
    val dir = Files.createTempDirectory("edge-envelopes")
    Files.write(dir.resolve("part-00000.jsonl"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val readBack = spark.read.schema(HttpEdge.envelopeSchema).json(dir.toString)
    val direct = env.select(readBack.columns.map(col): _*)
    assert(readBack.count() > 0L)
    assert(readBack.exceptAll(direct).count() === 0L)
    assert(direct.exceptAll(readBack).count() === 0L)
  }

  test("one response tier: graft/operators defines none of the response decisions") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    val decision = """\bdef\s+(setCookieHeaders|corsDecisions|redirects|bounces|responses|cookieDomain)\b""".r
    val defs = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if decision.findFirstIn(l).isDefined => s"$p:${i + 1}: $l"
        }
      }.toList
    // each response decision has one definition, in streaming/HttpEdge
    assert(defs.isEmpty, defs.mkString("\n"))
  }

  test("a trailing newline: the edge's querystring and DNT tests follow the columns' rlike") {
    import graft.streaming.EdgeRequest
    import org.apache.spark.sql.functions.col
    val cfg = testScale.copy(dntCookieValue = "1")
    def setCookie(id: Long, uri: String, cookies: Map[String, String]): Option[String] =
      HttpEdge.respond(EdgeRequest(id, 1700000000000L, "GET", uri, None, None, None, None,
        "c.example.com", Some("10.0.0.1"), None, None, cookies, Nil), cfg).header("Set-Cookie")
    // `x=1\n` is a valid token, so the querystring's nuid names the user
    assert(setCookie(1, "/i?nuid=abc&x=1\n", Map.empty).exists(_.startsWith("sp=abc; Expires=")))
    // `1\n` matches ^(?:1)$: DNT, so no cookie
    assert(setCookie(2, "/i?e=pv", Map("sp-dnt" -> "1\n")) === None)
    assert(setCookie(3, "/i?e=pv", Map("sp-dnt" -> "1")) === None)
    assert(setCookie(4, "/i?e=pv", Map("sp-dnt" -> "0")).isDefined)
    val cols = spark.createDataFrame(Seq(("nuid=abc&x=1\n", "1\n"))).toDF("querystring", "cookie_dnt")
      .select(CollectorPipeline.qsValid(col("querystring")), CollectorPipeline.dntSuppressed(cfg))
      .head()
    assert(cols.getBoolean(0) && cols.getBoolean(1))
  }

  // ---- live socket tests ----

  private def rawHttp(
      port: Int, method: String, uri: String,
      headers: Seq[(String, String)] = Nil,
      body: Option[String] = None): (Int, Map[String, List[String]], Array[Byte]) = {
    val sock = new Socket("127.0.0.1", port)
    try {
      val out = new BufferedOutputStream(sock.getOutputStream)
      val bodyBytes = body.map(_.getBytes(StandardCharsets.UTF_8))
      val reqLines = new StringBuilder
      reqLines.append(s"$method $uri HTTP/1.1\r\n")
      reqLines.append("Host: localhost\r\n")
      reqLines.append("Connection: close\r\n")
      headers.foreach { case (k, v) => reqLines.append(s"$k: $v\r\n") }
      bodyBytes.foreach(b => reqLines.append(s"Content-Length: ${b.length}\r\n"))
      reqLines.append("\r\n")
      out.write(reqLines.toString.getBytes(StandardCharsets.UTF_8))
      bodyBytes.foreach(out.write)
      out.flush()
      val all = new ByteArrayOutputStream()
      val in = sock.getInputStream
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { all.write(chunk, 0, n); n = in.read(chunk) }
      val bytes = all.toByteArray
      val sep = {
        var i = 0; var found = -1
        while (found < 0 && i + 3 < bytes.length) {
          if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
            bytes(i + 2) == '\r' && bytes(i + 3) == '\n') found = i
          i += 1
        }
        found
      }
      val head = new String(bytes, 0, sep, StandardCharsets.ISO_8859_1)
      val respBody = java.util.Arrays.copyOfRange(bytes, sep + 4, bytes.length)
      val lines = head.split("\r\n")
      val status = lines(0).split(" ")(1).toInt
      val hdrs = lines.drop(1).foldLeft(Map.empty[String, List[String]]) { (acc, l) =>
        val kv = l.split(":", 2)
        val k = kv(0).trim.toLowerCase
        acc + (k -> (acc.getOrElse(k, Nil) :+ kv(1).trim))
      }
      (status, hdrs, respBody)
    } finally sock.close()
  }

  private def withServer[A](cfg: CollectorConfig)(f: (HttpEdgeServer, Int, String) => A): A = {
    val spool = Files.createTempDirectory("edge-spool").toString
    val server = new HttpEdgeServer(cfg, spool,
      clock = () => 1700000000000L, flushEvery = 4,
      // parity tests smuggle reference-shaped hostile URIs via the header
      trustRawRequestUri = true)
    val port = server.start()
    try f(server, port, spool)
    finally server.stop()
  }

  test("live: ops endpoints serve the reference bodies over real sockets") {
    val cfg = testScale.copy(crossDomainEnabled = true, crossDomainDomains = Seq("*"))
    withServer(cfg) { (server, port, _) =>
      val (s1, _, b1) = rawHttp(port, "GET", "/health")
      assert((s1, new String(b1, "UTF-8")) === ((200, "OK")))
      server.setHealthy(false)
      val (s2, _, b2) = rawHttp(port, "GET", "/health")
      assert((s2, new String(b2, "UTF-8")) === ((503, "Service Unavailable")))
      server.setHealthy(true)
      val (s3, _, b3) = rawHttp(port, "GET", "/robots.txt")
      assert((s3, new String(b3, "UTF-8")) === ((200, "User-agent: *\nDisallow: /")))
      val (s4, h4, b4) = rawHttp(port, "GET", "/crossdomain.xml")
      assert(s4 === 200)
      assert(h4("content-type").head === "text/xml; charset=ISO-8859-1")
      assert(new String(b4, "ISO-8859-1").contains("<cross-domain-policy>"))
      val (s5, _, b5) = rawHttp(port, "GET", "/unknown/path/here")
      assert((s5, new String(b5, "UTF-8")) === ((404, "404 not found")))
      val (s6, _, _) = rawHttp(port, "GET", "/")
      assert(s6 === 404) // rootResponse disabled by default
    }
    // r10: enabled rootResponse serves the configured status + body AND
    // the configured headers (reference CollectorService.scala:242-246;
    // the common shape: a 302 root with a Location)
    val rootCfg = testScale.copy(
      rootResponseEnabled = true, rootResponseStatus = 302,
      rootResponseBody = "moved",
      rootResponseHeaders = Map("Location" -> "https://www.example.com/"))
    withServer(rootCfg) { (_, port, _) =>
      val (s7, h7, b7) = rawHttp(port, "GET", "/")
      assert(s7 === 302)
      assert(h7("location").head === "https://www.example.com/")
      assert(new String(b7, "UTF-8") === "moved")
    }
  }

  test("live: pixel route returns the exact transparent GIF with cookie + CORS headers") {
    withServer(testScale) { (_, port, _) =>
      val (status, headers, body) = rawHttp(port, "GET", "/i?e=pv&aid=app1",
        headers = Seq("Origin" -> "https://shop.example.com"))
      assert(status === 200)
      assert(headers("content-type").head === "image/gif")
      assert(body.toSeq === HttpEdge.PixelBytes.toSeq)
      assert(headers("set-cookie").head.startsWith("sp="))
      assert(headers("set-cookie").head.contains("; Expires="))
      assert(headers("cache-control").head === "no-cache, no-store, must-revalidate")
      assert(headers("p3p").head === testScale.p3pHeader)
      assert(headers("access-control-allow-origin").head === "https://shop.example.com")
      assert(headers("access-control-allow-credentials").head === "true")
      // HEAD serves the same status with no body (reference get|head routes)
      val (hs, _, hb) = rawHttp(port, "HEAD", "/i")
      assert(hs === 200 && hb.isEmpty)
    }
  }

  test("live: redirect route 302s allowed targets, substitutes the nuid macro, 400s the rest") {
    val cfg = redirectScale
    withServer(cfg) { (_, port, _) =>
      val (s1, h1, _) = rawHttp(port, "GET",
        "/r/tp2?u=https%3A%2F%2Fdest3.example.com%2Flanding")
      assert(s1 === 302)
      assert(h1("location").head === "https://dest3.example.com/landing")
      // disallowed domain → 400
      val (s2, _, _) = rawHttp(port, "GET",
        "/r/tp2?u=https%3A%2F%2Fevil.example.org%2Fx")
      assert(s2 === 400)
      // macro substitution: uid=${SP_NUID} resolves to the request's nuid
      val nuid = "11111111-2222-3333-4444-555555555555"
      val (s3, h3, _) = rawHttp(port, "GET",
        "/r/tp2?u=https%3A%2F%2Fdest3.example.com%2Fl%3Fuid%3D%24%7BSP_NUID%7D" +
          s"&nuid=$nuid")
      assert(s3 === 302)
      assert(h3("location").head === s"https://dest3.example.com/l?uid=$nuid")
      // disabled default redirect → 404
      val off = cfg.copy(enableDefaultRedirect = false)
      withServer(off) { (_, p2, _) =>
        val (s4, _, _) = rawHttp(p2, "GET",
          "/r/tp2?u=https%3A%2F%2Fdest3.example.com%2Flanding")
        assert(s4 === 404)
      }
    }
  }

  test("live: OPTIONS preflight grants the reference's CORS headers, 403s disallowed origins") {
    withServer(corsScale) { (_, port, _) =>
      val (s1, h1, _) = rawHttp(port, "OPTIONS", "/com.snowplowanalytics.snowplow/tp2",
        headers = Seq("Origin" -> "https://a.allowed.example.com"))
      assert(s1 === 200)
      assert(h1("access-control-allow-origin").head === "https://a.allowed.example.com")
      assert(h1("access-control-allow-credentials").head === "true")
      assert(h1("access-control-allow-headers").head === "Content-Type, SP-Anonymous")
      assert(h1("access-control-max-age").head === (corsScale.corsMaxAgeMs / 1000).toString)
      val (s2, h2, _) = rawHttp(port, "OPTIONS", "/com.snowplowanalytics.snowplow/tp2",
        headers = Seq("Origin" -> "https://unlisted.example.net"))
      assert(s2 === 403)
      assert(!h2.contains("access-control-allow-origin"))
    }
  }

  test("live: cookie bounce 302s a fresh pixel user to itself with the marker") {
    withServer(bounceScale) { (_, port, _) =>
      val (s1, h1, _) = rawHttp(port, "GET", "/i?e=pv")
      assert(s1 === 302)
      assert(h1("location").head === "/i?e=pv&n=true")
      // the bounced replay (marker present) is served the pixel
      val (s2, _, body) = rawHttp(port, "GET", "/i?e=pv&n=true")
      assert(s2 === 200 && body.toSeq === HttpEdge.PixelBytes.toSeq)
      // a cookie-carrying user never bounces
      val (s3, _, _) = rawHttp(port, "GET", "/i?e=pv",
        headers = Seq("Cookie" -> "sp=33333333-3333-3333-3333-333333333333"))
      assert(s3 === 200)
    }
  }

  test("live: binds the CONFIGURED interface:port (reference model.scala:232-233)") {
    val probe = new java.net.ServerSocket(0)
    val wanted = probe.getLocalPort
    probe.close()
    val spool = Files.createTempDirectory("edge-bind").toString
    val server = new HttpEdgeServer(
      testScale.copy(interface = "127.0.0.1", port = wanted), spool)
    try {
      assert(server.start() === wanted)
      val (s, _, b) = rawHttp(wanted, "GET", "/health")
      assert((s, new String(b, "UTF-8")) === ((200, "OK")))
    } finally server.stop()
  }

  test("live: over-long request URIs answer 414 and never spool (pekko max-uri-length parity)") {
    // the reference deploys with parsing.max-uri-length = 32768
    // (config.kinesis.extended.hocon:335); use a small cap so the test
    // stays cheap, and verify the wire gate beats the envelope build
    withServer(testScale.copy(maxUriLength = 256)) { (server, port, spool) =>
      val (sOk, _, _) = rawHttp(port, "GET", "/i?e=pv")
      assert(sOk === 200)
      val (s414, _, b414) = rawHttp(port, "GET", "/i?e=pv&pad=" + "a" * 300)
      assert((s414, new String(b414, "UTF-8")) === ((414, "414 URI Too Long")))
      server.flush()
      val spooled = spark.read.schema(HttpEdge.envelopeSchema).json(spool)
      assert(spooled.count() === 1L) // only the short request produced an envelope
    }
  }

  test("live: over-long request bodies answer 413 and never spool (pekko max-content-length parity)") {
    withServer(testScale.copy(maxContentLength = 1024L)) { (server, port, spool) =>
      // declared Content-Length past the cap: rejected before the read
      val (s413, _, b413) = rawHttp(port, "POST", "/com.snowplowanalytics.snowplow/tp2",
        headers = Seq("Content-Type" -> "application/json"),
        body = Some("{\"pad\":\"" + "x" * 2000 + "\"}"))
      assert((s413, new String(b413, "UTF-8")) === ((413, "413 Payload Too Large")))
      // at the boundary: accepted
      val (sOk, _, _) = rawHttp(port, "POST", "/com.snowplowanalytics.snowplow/tp2",
        headers = Seq("Content-Type" -> "application/json"),
        body = Some("{\"pad\":\"" + "x" * 500 + "\"}"))
      assert(sOk === 200)
      server.flush()
      val spooled = spark.read.schema(HttpEdge.envelopeSchema).json(spool)
      assert(spooled.count() === 1L) // only the small body produced an envelope
    }
  }

  // ---- TLS (reference Collector.scala:105-191, model.scala:212-216) ----

  /** Throwaway PKCS12 keystore via the JDK's own keytool; returns
    * (server SSLContext with the key, client SSLContext trusting it). */
  private lazy val tlsContexts: Option[(javax.net.ssl.SSLContext, javax.net.ssl.SSLContext)] = {
    import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}
    val dir = Files.createTempDirectory("edge-tls")
    val ksPath = dir.resolve("ks.p12").toString
    val keytool = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "keytool").getPath
    val cmd = Seq(keytool, "-genkeypair", "-alias", "edge", "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "2", "-storetype", "PKCS12",
      "-keystore", ksPath, "-storepass", "changeit",
      "-dname", "CN=localhost", "-ext", "SAN=dns:localhost,ip:127.0.0.1")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val ok = p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue() == 0
    if (!ok) None
    else {
      val store = java.security.KeyStore.getInstance("PKCS12")
      val in = new java.io.FileInputStream(ksPath)
      try store.load(in, "changeit".toCharArray) finally in.close()
      val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(store, "changeit".toCharArray)
      val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(store)
      val serverCtx = SSLContext.getInstance("TLS")
      serverCtx.init(kmf.getKeyManagers, null, null)
      val clientCtx = SSLContext.getInstance("TLS")
      clientCtx.init(null, tmf.getTrustManagers, null)
      Some((serverCtx, clientCtx))
    }
  }

  private def httpsGet(clientCtx: javax.net.ssl.SSLContext, port: Int, uri: String,
      headers: Seq[(String, String)] = Nil): java.net.http.HttpResponse[Array[Byte]] = {
    val client = java.net.http.HttpClient.newBuilder().sslContext(clientCtx).build()
    val b = java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(s"https://localhost:$port$uri"))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())
  }

  test("live: TLS termination — real HTTPS handshake serves the routes; envelopes spool") {
    assume(tlsContexts.isDefined, "keytool unavailable")
    val (serverCtx, clientCtx) = tlsContexts.get
    val spool = Files.createTempDirectory("edge-tls-spool").toString
    val cfg = testScale.copy(ssl = graft.operators.SslSettings(enable = true))
    val server = new HttpEdgeServer(cfg, spool,
      clock = () => 1700000000000L, sslContext = Some(serverCtx))
    server.start()
    try {
      val hp = server.httpsPort
      val health = httpsGet(clientCtx, hp, "/health")
      assert(health.statusCode() === 200)
      assert(new String(health.body(), "UTF-8") === "OK")
      val pixel = httpsGet(clientCtx, hp, "/i?e=pv")
      assert(pixel.statusCode() === 200)
      assert(pixel.headers().firstValue("Content-Type").get() === "image/gif")
      assert(pixel.body().toSeq === HttpEdge.PixelBytes.toSeq)
      // ssl.enable + redirect=false: the plain bind still serves normally
      val (sPlain, _, _) = rawHttp(server.port, "GET", "/i?e=pv")
      assert(sPlain === 200)
      server.flush()
      val spooled = spark.read.schema(HttpEdge.envelopeSchema).json(spool)
      assert(spooled.count() === 2L) // the HTTPS pixel AND the plain pixel
    } finally server.stop()
  }

  test("live: ssl.redirect 301s plain HTTP to the https port and honors X-Forwarded-Proto") {
    assume(tlsContexts.isDefined, "keytool unavailable")
    val (serverCtx, clientCtx) = tlsContexts.get
    val spool = Files.createTempDirectory("edge-tls-redir").toString
    val cfg = testScale.copy(
      ssl = graft.operators.SslSettings(enable = true, redirect = true))
    val server = new HttpEdgeServer(cfg, spool, sslContext = Some(serverCtx))
    server.start()
    try {
      val hp = server.httpsPort
      // plain bind: every request 301s to https on the ssl port
      // (reference redirectToHttps(collectorConf.ssl.port))
      val (s1, h1, _) = rawHttp(server.port, "GET", "/i?e=pv")
      assert(s1 === 301)
      assert(h1("location").head === s"https://localhost:$hp/i?e=pv")
      // ...and the redirected request is NOT an envelope
      server.flush()
      assert(!Files.list(java.nio.file.Paths.get(spool)).findFirst().isPresent)
      // LB-terminated TLS: X-Forwarded-Proto: http on the secure bind
      // redirects to the scheme default port (reference withPort(0))
      val fwd = httpsGet(clientCtx, hp, "/health",
        headers = Seq("X-Forwarded-Proto" -> "http"))
      assert(fwd.statusCode() === 301)
      assert(fwd.headers().firstValue("Location").get() === "https://localhost/health")
      // a proper https-marked request is served
      val ok = httpsGet(clientCtx, hp, "/health",
        headers = Seq("X-Forwarded-Proto" -> "https"))
      assert(ok.statusCode() === 200)
    } finally server.stop()
  }

  test("live: malformed TLS client hellos never kill the HTTPS bind") {
    // the r10 verdict's TLS tail-risk item: the handshake surface must
    // shrug off garbage — a plaintext request on the TLS port, random
    // bytes, a truncated-then-hung-up hello — and still serve real
    // handshakes afterwards
    assume(tlsContexts.isDefined, "keytool unavailable")
    val (serverCtx, clientCtx) = tlsContexts.get
    val spool = Files.createTempDirectory("edge-tls-fuzz").toString
    val cfg = testScale.copy(ssl = graft.operators.SslSettings(enable = true))
    val server = new HttpEdgeServer(cfg, spool,
      clock = () => 1700000000000L, sslContext = Some(serverCtx))
    server.start()
    try {
      val hp = server.httpsPort
      def fire(bytes: Array[Byte]): Unit = {
        val s = new Socket("127.0.0.1", hp)
        try {
          s.setSoTimeout(5000)
          s.getOutputStream.write(bytes); s.getOutputStream.flush()
          try s.getInputStream.read() catch { case _: java.io.IOException => () }
        } catch { case _: java.io.IOException => () } finally s.close()
      }
      // plaintext HTTP where a hello belongs
      fire("GET /health HTTP/1.1\r\nHost: x\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1))
      // random garbage at several sizes
      val rnd = new scala.util.Random(31)
      Seq(1, 5, 16, 64, 512).foreach(n => fire(Array.fill[Byte](n)(rnd.nextInt.toByte)))
      // a record that CLAIMS to be a client hello then lies about length
      // (0x16 handshake, TLS 1.2, declared 512-byte record, 4 bytes sent)
      fire(Array[Byte](0x16, 0x03, 0x03, 0x02, 0x00, 0x01, 0x00, 0x00, 0x00))
      // immediate hangup after one hello byte
      fire(Array[Byte](0x16))
      // the bind SURVIVES: a genuine handshake + request round-trips
      val health = httpsGet(clientCtx, hp, "/health")
      assert(health.statusCode() === 200)
      assert(new String(health.body(), "UTF-8") === "OK")
      val pixel = httpsGet(clientCtx, hp, "/i?e=pv")
      assert(pixel.statusCode() === 200)
      assert(pixel.body().toSeq === HttpEdge.PixelBytes.toSeq)
      // hostile pre-handshake bytes never reached the handler: the
      // request ledger holds only the two real requests
      assert(server.metrics.requestCounts === Map(("GET", 200) -> 2L))
    } finally server.stop()
  }

  test("live: route table is method-gated — no envelope from OPTIONS/PUT/DELETE, 404 fallback") {
    withServer(testScale) { (server, port, spool) =>
      // OPTIONS preflight to a tracking path: answered by the CORS route,
      // never spooled (reference routes OPTIONS to corsRoute)
      val (so, ho, _) = rawHttp(port, "OPTIONS", "/i?e=pv",
        headers = Seq("Origin" -> "https://shop.example.com"))
      assert(so === 200 && ho.contains("access-control-allow-headers"))
      // methods outside the route table fall to the 404 fallback
      val (sPut, _, bPut) = rawHttp(port, "PUT", "/i?e=pv")
      assert((sPut, new String(bPut, "UTF-8")) === ((404, "404 not found")))
      val (sDel, _, _) = rawHttp(port, "DELETE", "/com.acme/track")
      assert(sDel === 404)
      // POST to a pixel path: the reference's pixel route is get|head only
      val (sPost, _, _) = rawHttp(port, "POST", "/i?e=pv",
        headers = Seq("Content-Type" -> "application/json"), body = Some("{}"))
      assert(sPost === 404)
      // one real event so the spool is non-empty, then: exactly one envelope
      val (sGet, _, _) = rawHttp(port, "GET", "/i?e=pv")
      assert(sGet === 200)
      server.flush()
      val spooled = spark.read.schema(HttpEdge.envelopeSchema).json(spool)
      assert(spooled.count() === 1L)
      assert(spooled.head().getAs[String]("method") === "GET")
    }
  }

  test("live: enabled bridges dispatch like the reference (POST json, GET 404, unknown letter 400)") {
    val cfg = CollectorConfig.bridgesScale
    withServer(cfg) { (server, port, spool) =>
      // POST to the segment bridge: the reference jsonResponse + envelope
      val (s1, h1, b1) = rawHttp(port, "POST", "/com.segment/v1/t",
        headers = Seq("Content-Type" -> "application/json"),
        body = Some("""{"type":"track","userId":"u1"}"""))
      assert(s1 === 200)
      assert(h1("content-type").head === "application/json")
      assert(new String(b1, "UTF-8") === """{"success":true}""")
      // POST to the amplitude bridge: same json contract
      val (s2, _, b2) = rawHttp(port, "POST", "/com.amplitude/2/httpapi",
        headers = Seq("Content-Type" -> "application/json"),
        body = Some("""{"api_key":"k","events":[]}"""))
      assert(s2 === 200 && new String(b2, "UTF-8") === """{"success":true}""")
      // GET on a bridge path: the bridge route is post-only and the
      // 3-segment path never matches the vendor/version route -> 404
      val (s3, _, _) = rawHttp(port, "GET", "/com.segment/v1/t")
      assert(s3 === 404)
      // unknown segment event letter answers 400 (reference else-arm)
      val (s4, _, _) = rawHttp(port, "POST", "/com.segment/v1/x",
        headers = Seq("Content-Type" -> "application/json"), body = Some("{}"))
      assert(s4 === 400)
      server.flush()
      val spooled = spark.read.schema(HttpEdge.envelopeSchema).json(spool)
      assert(spooled.count() === 2L) // only the two bridge POSTs
      // DISABLED bridges: the same 3-segment POST falls through to 404
      // and never spools (reference: empty bridgeMap + 2-segment-only
      // collector route)
      withServer(testScale) { (server2, port2, spool2) =>
        val (sd, _, _) = rawHttp(port2, "POST", "/com.segment/v1/t",
          headers = Seq("Content-Type" -> "application/json"), body = Some("{}"))
        assert(sd === 404)
        server2.flush()
        assert(!Files.list(java.nio.file.Paths.get(spool2)).findFirst().isPresent)
      }
    }
  }

  test("live: hostile requests answer without killing the edge and still spool") {
    withServer(testScale) { (server, port, spool) =>
      // the JDK request-line parser 400s malformed escapes itself; the
      // reference receives such URIs via the Raw-Request-URI header
      // (`CollectorRoute.scala:61` headers extractor) — so does the edge
      val (s1, _, _) = rawHttp(port, "GET", "/i",
        headers = Seq("Raw-Request-Uri" -> "/i?e=%%bad&&=="))
      assert(s1 === 200) // response unaffected; the event routes to bad rows downstream
      val (s2, _, b2) = rawHttp(port, "POST", "/com.snowplowanalytics.snowplow/tp2",
        headers = Seq("Content-Type" -> "application/json"),
        body = Some("{\"not\":\"an envelope\"}"))
      assert(s2 === 200 && new String(b2, "UTF-8") === "ok")
      server.flush()
      val spooled = spark.read.schema(HttpEdge.envelopeSchema)
        .json(spool)
      assert(spooled.count() === 2L)
      assert(spooled.filter("querystring = 'e=%%bad&&=='").count() === 1L)
    }
  }

  test("live: HTTP requests flow through the spool into the streaming collector") {
    withServer(testScale) { (server, port, spool) =>
      // a deterministic mix: tp2 POSTs, pixels, a DNT pixel, a malformed qs
      (1 to 8).foreach { i =>
        rawHttp(port, "POST", "/com.snowplowanalytics.snowplow/tp2",
          headers = Seq("Content-Type" -> "application/json"),
          body = Some(
            s"""{"schema":"iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4","data":[{"e":"pv","idx":$i}]}"""))
      }
      (1 to 4).foreach(i => rawHttp(port, "GET", s"/i?e=pv&aid=app$i"))
      rawHttp(port, "GET", "/i?e=pv", headers = Seq("Cookie" -> "sp-dnt=true"))
      rawHttp(port, "GET", "/i", headers = Seq("Raw-Request-Uri" -> "/i?e=%%bad&&=="))
      server.flush()

      val good = Files.createTempDirectory("edge-good").toString
      val bad = Files.createTempDirectory("edge-bad").toString
      val ckpt = Files.createTempDirectory("edge-ckpt").toString
      graft.CollectorApp.start(
        spark, server.stream(spark), testScale,
        new ParquetDirSink(good, "good"), new ParquetDirSink(bad, "bad"), ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .query.awaitTermination(120000)

      val goodDf = spark.read.parquet(good)
      val badDf = spark.read.parquet(bad)
      // batch reference: the same spool through the same batch pipeline
      val batchEnv = spark.read.schema(HttpEdge.envelopeSchema).json(spool)
      assert(goodDf.count() ===
        CollectorPipeline.goodLeg(CollectorPipeline.route(batchEnv, testScale)).count())
      assert(badDf.count() ===
        CollectorPipeline.badRows(batchEnv, testScale).count())
      assert(goodDf.count() === 12L) // 8 POSTs + 4 clean pixels; DNT + bad qs withheld
      assert(badDf.count() >= 1L)
    }
  }

  test("live: CollectorMain --http wiring runs the full dataflow with monitor-backed health") {
    val spool = Files.createTempDirectory("edge-wire-spool").toString
    val good = Files.createTempDirectory("edge-wire-good").toString
    val bad = Files.createTempDirectory("edge-wire-bad").toString
    val ckpt = Files.createTempDirectory("edge-wire-ckpt").toString
    val (server, running) = graft.CollectorMain.wireHttp(
      spark, spool, good, bad, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L),
      cfg = CollectorConfig.testScale)
    try {
      val port = server.port
      // health comes from the live pipeline monitor
      val (hs, _, hb) = rawHttp(port, "GET", "/health")
      assert((hs, new String(hb, "UTF-8")) === ((200, "OK")))
      (1 to 6).foreach { i =>
        rawHttp(port, "POST", "/com.snowplowanalytics.snowplow/tp2",
          headers = Seq("Content-Type" -> "application/json"),
          body = Some(
            s"""{"schema":"iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4","data":[{"e":"pv","idx":$i}]}"""))
      }
      rawHttp(port, "GET", "/i?e=pv")
      server.flush()
      running.query.processAllAvailable()
      // good leg carries thrift wire bytes + partition key and the request
      // time (CollectorApp)
      val wire = spark.read.parquet(good)
      assert(wire.count() === 7L)
      assert(wire.columns.toSet === Set("event_id", "partition_key", "thrift", "timestamp_ms"))
      // reference SIGTERM order: health flips down BEFORE queries stop
      running.monitor.requestShutdown()
      val (ds, _, _) = rawHttp(port, "GET", "/health")
      assert(ds === 503)
      assert(running.query.isActive) // drain window: still running
    } finally {
      graft.streaming.GracefulShutdown.stop(running.monitor, Seq(running.query))
      server.stop()
    }
  }

  test("live: a lone request below flushEvery reaches the good sink by the next " +
    "trigger with no flusher running; stop() drops the edge's source handle") {
    val spool = Files.createTempDirectory("edge-tail-spool").toString
    val good = Files.createTempDirectory("edge-tail-good").toString
    val bad = Files.createTempDirectory("edge-tail-bad").toString
    val ckpt = Files.createTempDirectory("edge-tail-ckpt").toString
    val (server, running) = graft.CollectorMain.wireHttp(
      spark, spool, good, bad, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L),
      cfg = CollectorConfig.testScale)
    try {
      assert(server.streaming)
      assert(rawHttp(server.port, "GET", "/i?e=pv&aid=tail")._1 === 200)
      // one envelope, 255 short of wireHttp's flushEvery: only the
      // source's publish-at-trigger can put it in a batch
      val deadline = System.nanoTime() + 60000000000L
      while (!running.query.recentProgress.exists(_.numInputRows > 0) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      assert(running.query.recentProgress.map(_.numInputRows).sum === 1L)
      assert(spark.read.parquet(good).count() === 1L)
    } finally {
      running.query.stop()
      server.stop()
    }
    assert(!server.streaming)
  }

  test("live: R8 warmup cycles grow until maxCycles, saturate cleanly, and fail loudly on a dead port") {
    import graft.operators.WarmupSettings
    import graft.streaming.EdgeWarmup
    withServer(testScale) { (_, port, _) =>
      val logs = scala.collection.mutable.ArrayBuffer.empty[String]
      val results = EdgeWarmup.run(port,
        WarmupSettings(enable = true, numRequests = 6, maxConnections = 2, maxCycles = 3),
        logs += _)
      // reference shape: requests and connections scale with the cycle
      assert(results.map(r => (r.cycle, r.connections, r.requests)) ===
        Seq((1, 2, 6), (2, 4, 12), (3, 6, 18)))
      assert(results.forall(_.failures === 0))
      assert(logs.exists(_.contains("Finished all warmup cycles")))
    }
    // disabled → no cycles
    assert(EdgeWarmup.run(1, WarmupSettings(enable = false)) === Nil)
    // a dead port fails in cycle 1 and stops (the saturation exit)
    val dead = {
      val ss = new java.net.ServerSocket(0)
      val p = ss.getLocalPort; ss.close(); p
    }
    val failed = EdgeWarmup.run(dead,
      WarmupSettings(enable = true, numRequests = 4, maxConnections = 2, maxCycles = 5))
    assert(failed.length === 1 && failed.head.failures > 0)
  }

  test("live: edge metrics count (method, status) and render as StatsD lines") {
    import graft.streaming.StatsdExport
    withServer(redirectScale) { (server, port, _) =>
      rawHttp(port, "GET", "/i?e=pv")
      rawHttp(port, "GET", "/i?e=pv")
      rawHttp(port, "GET", "/health")
      rawHttp(port, "POST", "/com.snowplowanalytics.snowplow/tp2",
        headers = Seq("Content-Type" -> "application/json"), body = Some("{}"))
      rawHttp(port, "GET", "/r/tp2?u=https%3A%2F%2Fevil.example.org%2Fx") // 400
      rawHttp(port, "GET", "/nowhere/at/all/four") // 404
      val counts = server.metrics.requestCounts
      assert(counts(("GET", 200)) === 3L)
      assert(counts(("POST", 200)) === 1L)
      assert(counts(("GET", 400)) === 1L)
      assert(counts(("GET", 404)) === 1L)
      assert(server.metrics.durationMicrosByMethod.keySet === Set("GET", "POST"))
      val lines = StatsdExport.edgeLines(server.metrics)
      assert(lines.contains("graft.http.requests.get.200:3|c"))
      assert(lines.contains("graft.http.requests.post.200:1|c"))
      assert(lines.exists(_.startsWith("graft.http.duration_us.get:")))
    }
  }

  test("live: an unexpected handler failure answers 500 and is counted as a 500") {
    val spool = Files.createTempDirectory("edge-500").toString
    val server = new HttpEdgeServer(testScale, spool,
      healthSource = Some(() => throw new IllegalStateException("monitor unavailable")))
    val port = server.start()
    try {
      val (status, _, body) = rawHttp(port, "GET", "/health")
      assert(status === 500)
      assert(body.isEmpty)
      assert(server.metrics.requestCounts(("GET", 500)) === 1L)
      assert(server.metrics.requestCounts.values.sum === 1L)
    } finally server.stop()
  }

  test("live: hostile raw bytes never kill the edge (fuzz discipline over real sockets)") {
    withServer(testScale) { (server, port, _) =>
      val hostile = Seq[Array[Byte]](
        "GARBAGE\r\n\r\n".getBytes("UTF-8"),
        "GET \u0000\u0001\u0002 HTTP/1.1\r\nHost: x\r\n\r\n".getBytes("UTF-8"),
        ("GET /" + "a" * 40000 + " HTTP/1.1\r\nHost: x\r\n\r\n").getBytes("UTF-8"),
        "POST /com.acme/track HTTP/1.1\r\nHost: x\r\nContent-Length: 99999\r\n\r\nshort".getBytes("UTF-8"),
        "GET /i HTTP/1.1\r\nHost: x\r\nCookie: ;;==;;\r\nRaw-Request-Uri: /i?\u0007=\u0007\r\n\r\n".getBytes("UTF-8"),
        Array.fill[Byte](512)(-1))
      hostile.foreach { bytes =>
        val sock = new Socket("127.0.0.1", port)
        try {
          sock.setSoTimeout(5000)
          sock.getOutputStream.write(bytes)
          sock.getOutputStream.flush()
          try { while (sock.getInputStream.read() != -1) () }
          catch { case _: java.net.SocketTimeoutException => () } // short-body POST: server waits; fine
        } finally sock.close()
      }
      // the edge is still alive and correct after every hostile exchange
      val (s, _, body) = rawHttp(port, "GET", "/i?e=pv")
      assert(s === 200 && body.toSeq === HttpEdge.PixelBytes.toSeq)
      val (hs, _, hb) = rawHttp(port, "GET", "/health")
      assert((hs, new String(hb, "UTF-8")) === ((200, "OK")))
    }
  }

  test("edge-backed response projections answer every hostile envelope") {
    import graft.queries.Collector
    val fuzz = HostileCorpus.corpus
    val df = spark.createDataFrame(fuzz)
    // a null path reads as the empty path (its raw_uri is null too)
    def path(e: HostileCorpus.Env) = Option(e.path).getOrElse("")
    def getOrHead(e: HostileCorpus.Env) = e.method == "GET" || e.method == "HEAD"
    val redirects = fuzz.count(e => HttpEdge.isRedirect(path(e)))
    val pixelExpected = fuzz.count(e =>
      HttpEdge.isPixel(path(e)) || (getOrHead(e) && !HttpEdge.isRedirect(path(e))))
    assert(fuzz.exists(_.raw_uri == null) && redirects > 0 && pixelExpected > 0)
    assert(Collector.response(df, testScale).count() === fuzz.size)
    assert(Collector.setCookie(df, cookieScale).count() === fuzz.size)
    assert(Collector.cors(df, corsScale).count() === fuzz.size)
    assert(Collector.redirect(df, redirectScale).count() === redirects)
    assert(Collector.bounce(df, bounceScale).count() === pixelExpected)
  }
}
