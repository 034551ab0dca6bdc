package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsServer}
import graft.operators.CollectorConfig
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._

/** R9's HTTP dimension: per-request counters by (method, status) plus
  * per-method latency sums — what the reference's pekko-http-metrics
  * registry tracks at the server (`Collector.scala:138-160`:
  * requests/responses with method and status dimensions). Lock-free
  * LongAdders; rendered to StatsD lines by
  * [[StatsdExport.edgeLines]] next to the query-health metrics.
  */
final class EdgeMetrics {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.LongAdder
  private val counts = new ConcurrentHashMap[(String, Int), LongAdder]()
  private val durationMicros = new ConcurrentHashMap[String, LongAdder]()

  def record(method: String, status: Int, nanos: Long): Unit = {
    counts.computeIfAbsent((method, status), _ => new LongAdder).increment()
    durationMicros.computeIfAbsent(method, _ => new LongAdder)
      .add(nanos / 1000L)
  }

  /** Takes back a [[record]] whose response never reached its client. */
  def retract(method: String, status: Int, nanos: Long): Unit = {
    counts.get((method, status)).decrement()
    durationMicros.get(method).add(-(nanos / 1000L))
  }

  /** The requests counted so far by (method, status); a retracted
    * request leaves no entry. */
  def requestCounts: Map[(String, Int), Long] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.map { case (k, v) => k -> v.sum() }.filter(_._2 > 0).toMap
  }

  def durationMicrosByMethod: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    durationMicros.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }
}

/** The collector's HTTP front door, on the JDK's built-in server — the
  * reference's ingestion tier (`Collector.scala:170-189` binds Pekko
  * HTTP; we bind `com.sun.net.httpserver`, zero added dependencies)
  * fused to the Spark pipeline:
  *
  *  - every request is answered synchronously by [[HttpEdge.respond]]
  *    (pixel GIF, 302 redirects with the nuid macro, Set-Cookie / CORS /
  *    P3P headers, ops endpoints — the decisions the oracle-checked
  *    `c_*` response queries run);
  *  - every TRACKING request appends one envelope record to a JSONL
  *    spool, atomically published (write-temp + rename) in files of at
  *    most `flushEvery` requests so [[stream]] — the `json` file source
  *    over the spool — only ever lists complete files. [[stream]] also
  *    publishes the buffered tail at every trigger.
  *
  * The spool is the local analog of the reference's sink buffer
  * (`KinesisSink.scala:87-142` byte/record/time flush): `flushEvery`
  * plays recordLimit and the trigger interval plays timeLimit, and a
  * production deployment would point the same envelope schema at Kafka
  * (`sources/KafkaEnvelopeSource`) instead of files. From the spool
  * onward the file source and the checkpoint replay every batch, and the
  * file sinks fence each batch by id ([[graft.sinks.ParquetDirSink]]), so
  * their output is exactly-once per query; a client sink is
  * at-least-once. The HTTP→spool hop is AT-MOST-ONCE for the buffered tail: envelopes whose
  * 200s were already sent sit only in the in-memory buffer until the
  * next trigger (or `flushEvery` records) publishes them, and are lost
  * on crash — the same acknowledged-but-buffered regime as the
  * reference's sink buffers (SURVEY §7.4.4), with the loss bounded by
  * `flushEvery - 1` envelopes and by one trigger interval.
  *
  * `trustRawRequestUri`: the reference's `Raw-Request-URI` is synthesized
  * by pekko-http from the wire bytes, NOT read from client headers. The
  * JDK server offers no such hook, so the bench/test harness smuggles
  * hostile URIs (which the JDK request-line parser would 400) through a
  * `Raw-Request-Uri` header — honored ONLY when this flag is on. Off
  * (the default, and `CollectorMain --http`), the envelope's raw_uri is
  * always the actual request line; a client cannot desync
  * raw_uri/querystring from what was requested.
  */
final class HttpEdgeServer(
    cfg: CollectorConfig,
    spoolDir: String,
    clock: () => Long = () => System.currentTimeMillis(),
    flushEvery: Int = 64,
    healthSource: Option[() => Boolean] = None,
    sinkHealthSource: Option[() => Boolean] = None,
    trustRawRequestUri: Boolean = false,
    // R10 TLS: the HTTPS bind's SSLContext. None + ssl.enable follows the
    // reference exactly — `SSLContext.getDefault` (`Collector.scala:183`),
    // i.e. the JVM-wide `javax.net.ssl.keyStore*` properties; tests inject
    // a context built from a throwaway keystore instead.
    sslContext: Option[javax.net.ssl.SSLContext] = None) {

  private val spool: Path = Files.createDirectories(Paths.get(spoolDir))
  /** This edge's key in [[HttpEdgeServer.streamed]] while [[stream]]'s
    * source may publish through it. */
  private val streamKey = java.util.UUID.randomUUID().toString
  private val nextId = new AtomicLong(1L)
  private val nextFile = new AtomicLong(0L)
  private val healthy = new AtomicBoolean(true)
  private val sinkHealthy = new AtomicBoolean(true)
  private val buf = new java.lang.StringBuilder
  private var buffered = 0

  private var server: HttpServer = _
  private var httpsServerOpt: Option[HttpsServer] = None
  private var pool: java.util.concurrent.ExecutorService = _

  def setHealthy(h: Boolean): Unit = healthy.set(h)
  def setSinkHealthy(h: Boolean): Unit = sinkHealthy.set(h)

  /** R9: live request metrics (method/status counts, latency sums). */
  val metrics = new EdgeMetrics

  /** Bind on the CONFIGURED `interface:port` (reference `model.scala:
    * 232-233`, `Collector.scala:170-189`; test configs use
    * `127.0.0.1:0` = ephemeral loopback) and, when `ssl.enable`, a second
    * HTTPS bind on `ssl.port` (ephemeral when the plain port is 0 —
    * tests can't take 443). Returns the plain bound port. */
  def start(): Int = synchronized {
    // the JDK server writes response head and body as separate packets;
    // without TCP_NODELAY, Nagle holds the second until the client's
    // delayed ACK (~40 ms) — a 250x throughput cliff on keep-alive
    // loopback traffic. ServerConfig reads this property once, at the
    // first HttpServer class load, so set it before create().
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress(cfg.interface, cfg.port), 0)
    server.createContext("/", (exchange: HttpExchange) => handle(exchange, secure = false))
    // daemon workers shared by both binds: a forgotten stop() must never
    // pin the JVM open. Sized from the configured connection envelope
    // (reference pekko `max-connections`), capped at the core count —
    // a blocking-handler server's true concurrency ceiling (r10; the
    // fixed cores/4 pool was the 64-connection throughput ceiling).
    pool = Executors.newFixedThreadPool(
      math.max(4, math.min(cfg.serverMaxConnections,
        Runtime.getRuntime.availableProcessors())),
      (r: Runnable) => { val t = new Thread(r, "edge-http"); t.setDaemon(true); t })
    server.setExecutor(pool)
    server.start()
    if (cfg.ssl.enable) {
      val ctx = sslContext.getOrElse(javax.net.ssl.SSLContext.getDefault)
      val hs = HttpsServer.create(
        new InetSocketAddress(cfg.interface, if (cfg.port == 0) 0 else cfg.ssl.port), 0)
      hs.setHttpsConfigurator(new HttpsConfigurator(ctx))
      hs.createContext("/", (exchange: HttpExchange) => handle(exchange, secure = true))
      hs.setExecutor(pool)
      hs.start()
      httpsServerOpt = Some(hs)
    }
    port
  }

  def port: Int = server.getAddress.getPort

  /** The HTTPS bind's port (throws unless `ssl.enable`). */
  def httpsPort: Int = httpsServerOpt.get.getAddress.getPort

  /** Thrown when a request body crosses `maxContentLength` mid-read (a
    * chunked body carries no Content-Length to pre-reject on). */
  private final class BodyTooLarge extends RuntimeException

  private def readBody(ex: HttpExchange): Option[String] = {
    val in = ex.getRequestBody
    val out = new ByteArrayOutputStream()
    val chunk = new Array[Byte](8192)
    var n = in.read(chunk)
    while (n >= 0) {
      out.write(chunk, 0, n)
      // pekko `parsing.max-content-length` parity: never buffer past the
      // cap — one hostile streamed POST must not take the edge's heap
      if (out.size() > cfg.maxContentLength) throw new BodyTooLarge
      n = in.read(chunk)
    }
    val s = out.toString(StandardCharsets.UTF_8)
    if (s.isEmpty) None else Some(s)
  }

  private def parseCookies(headerValues: Seq[String]): Map[String, String] =
    headerValues.flatMap(_.split(";")).flatMap { part =>
      val kv = part.trim.split("=", 2)
      if (kv.length == 2 && kv(0).nonEmpty) Some(kv(0) -> kv(1)) else None
    }.toMap

  private def buildRequest(ex: HttpExchange): EdgeRequest = {
    val h = ex.getRequestHeaders
    def first(name: String): Option[String] =
      Option(h.getFirst(name)).filter(_.nonEmpty)
    val rawUri =
      if (trustRawRequestUri) first("Raw-Request-Uri").getOrElse(ex.getRequestURI.toString)
      else ex.getRequestURI.toString
    val cookies = parseCookies(
      Option(h.get("Cookie")).map(_.asScala.toSeq).getOrElse(Nil))
    val remoteIp = first("X-Forwarded-For")
      .map(_.split(",")(0).trim)
      .orElse(Option(ex.getRemoteAddress.getAddress).map(_.getHostAddress))
    // rendered like the envelope fixture: "Name: value" per header line
    val headerLines = h.entrySet().asScala.toSeq.flatMap { e =>
      e.getValue.asScala.map(v => s"${e.getKey}: $v")
    }.sorted
    EdgeRequest(
      eventId = nextId.getAndIncrement(),
      timestampMs = clock(),
      method = ex.getRequestMethod.toUpperCase,
      rawUri = rawUri,
      body = if (ex.getRequestMethod.equalsIgnoreCase("POST")) readBody(ex) else None,
      contentType = first("Content-Type"),
      userAgent = first("User-Agent"),
      referer = first("Referer"),
      host = first("Host").getOrElse(""),
      remoteIp = remoteIp,
      origin = first("Origin"),
      spAnonymous = first("SP-Anonymous"),
      cookies = cookies,
      headers = headerLines)
  }

  /** Host header minus any `:port` suffix (for https Location rebuilds). */
  private def bareHost(host: String): String = {
    val i = host.lastIndexOf(':')
    if (i > 0 && host.drop(i + 1).forall(_.isDigit)) host.substring(0, i) else host
  }

  /** Answer a request the routes never produced a response for — the
    * 414/413 request-limit gates and the 500 of an unexpected failure —
    * and count it under the status actually sent. A response already
    * committed (headers sent) is left alone and not counted again. */
  private def reject(ex: HttpExchange, status: Int, body: String, t0: Long): Unit =
    if (ex.getResponseCode == -1) {
      val msg = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, if (msg.isEmpty) -1L else msg.length.toLong)
      if (msg.nonEmpty) ex.getResponseBody.write(msg)
      metrics.record(ex.getRequestMethod.toUpperCase, status, System.nanoTime() - t0)
      ex.close()
    }

  private def handle(ex: HttpExchange, secure: Boolean): Unit = {
    val t0 = System.nanoTime()
    try {
      // R10 pekko `parsing.max-uri-length` parity: gate on the WIRE
      // request line (never the trusted test header) before any envelope
      // work — an over-long URI answers 414 and is never spooled
      if (ex.getRequestURI.toString.length > cfg.maxUriLength)
        return reject(ex, 414, "414 URI Too Long", t0)
      // declared Content-Length past the cap: reject before reading a byte
      val declaredLen =
        Option(ex.getRequestHeaders.getFirst("Content-Length")).flatMap(_.toLongOption)
      if (declaredLen.exists(_ > cfg.maxContentLength))
        return reject(ex, 413, "413 Payload Too Large", t0)
      val req =
        try buildRequest(ex)
        catch { case _: BodyTooLarge => return reject(ex, 413, "413 Payload Too Large", t0) }
      val forwardedProto =
        Option(ex.getRequestHeaders.getFirst("X-Forwarded-Proto")).map(_.toLowerCase)
      val resp =
        if (!secure && cfg.ssl.enable && cfg.ssl.redirect) {
          // the reference's plain-HTTP bind under SSLConfig(true, true):
          // every request 301s to the https scheme on the ssl port
          // (`Collector.scala:107-117` redirectToHttps)
          val sslPort = httpsServerOpt.map(_.getAddress.getPort).getOrElse(cfg.ssl.port)
          EdgeResponse(301,
            Seq("Location" -> s"https://${bareHost(req.host)}:$sslPort${req.rawUri}"),
            Array.emptyByteArray)
        } else if (cfg.ssl.redirect && forwardedProto.contains("http")) {
          // `X-Forwarded-Proto: http` behind a TLS-terminating LB
          // (`Collector.scala:119-127`: withPort(0) = the scheme default)
          EdgeResponse(301,
            Seq("Location" -> s"https://${bareHost(req.host)}${req.rawUri}"),
            Array.emptyByteArray)
        } else {
          // health answers come from the wired monitor when one is attached
          // (CollectorMain --http), else the settable local flags (tests)
          val h = healthSource.map(_()).getOrElse(healthy.get())
          val sh = sinkHealthSource.map(_()).getOrElse(sinkHealthy.get())
          val r = HttpEdge.respond(req, cfg, h, sh)
          // method-gated (r10): an OPTIONS preflight or PUT/DELETE to a
          // tracking-shaped path is answered but never spooled
          if (HttpEdge.producesEnvelope(req, cfg)) append(HttpEdge.envelopeJson(req, cfg))
          r
        }
      resp.headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
      val noBody = resp.body.isEmpty || req.method == "HEAD"
      ex.sendResponseHeaders(resp.status, if (noBody) -1L else resp.body.length.toLong)
      if (!noBody) ex.getResponseBody.write(resp.body)
      // counted before the close that ends the client's read, so a client
      // that read its whole response finds it counted; a close that fails
      // (the peer reset before the body was flushed) takes the count back
      val nanos = System.nanoTime() - t0
      metrics.record(req.method, resp.status, nanos)
      try ex.close()
      catch {
        case e: Throwable =>
          metrics.retract(req.method, resp.status, nanos)
          throw e
      }
    } catch {
      case scala.util.control.NonFatal(_) =>
        // a hostile request must never kill the edge (FuzzSpec discipline)
        try reject(ex, 500, "", t0)
        catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def append(line: String): Unit = synchronized {
    buf.append(line).append('\n')
    buffered += 1
    if (buffered >= flushEvery) flushLocked()
  }

  /** Publish buffered envelopes as one complete spool file (atomic
    * rename — a listing reader never sees a partial file). */
  def flush(): Unit = synchronized { flushLocked() }

  private def flushLocked(): Unit =
    if (buffered > 0) {
      val n = nextFile.getAndIncrement()
      val tmp = spool.resolve(s".tmp-part-$n")
      Files.write(tmp, buf.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, spool.resolve(f"part-$n%05d.jsonl"),
        StandardCopyOption.ATOMIC_MOVE)
      buf.setLength(0)
      buffered = 0
    }

  private val closeAtStop = new java.util.concurrent.ConcurrentLinkedQueue[AutoCloseable]()

  /** Close `c` when this edge [[stop]]s. */
  def closeOnStop(c: AutoCloseable): Unit = closeAtStop.add(c)

  /** Publish the tail, unbind, drop the handle [[stream]]'s source
    * publishes through and close what [[closeOnStop]] registered, so
    * nothing outlives the edge. */
  def stop(): Unit = synchronized {
    flushLocked()
    if (server != null) server.stop(0)
    httpsServerOpt.foreach(_.stop(0))
    if (pool != null) pool.shutdown()
    HttpEdgeServer.live.remove(streamKey)
    Iterator.continually(closeAtStop.poll()).takeWhile(_ != null).foreach(_.close())
  }

  /** True while a [[stream]] source can publish through this edge. */
  private[graft] def streaming: Boolean = HttpEdgeServer.live.containsKey(streamKey)

  /** The spool as a streaming envelope DataFrame — feed it straight to
    * [[graft.CollectorApp.start]], as `CollectorMain --http` does. Its
    * source ([[SpoolSourceProvider]]) is the `json` file source over the
    * spool that calls [[flush]] before each offset query, so every
    * envelope received before a trigger lands in that trigger's batch
    * and no flusher thread is needed. Each batch is packed into one
    * partition per `spark.sql.files.openCostInBytes` of spool files
    * ([[SpoolSource.getBatch]]). */
  def stream(spark: SparkSession): DataFrame = {
    HttpEdgeServer.live.put(streamKey, this)
    spark.readStream.format(classOf[SpoolSourceProvider].getName)
      .option("edge", streamKey)
      .load(spoolDir)
  }
}

object HttpEdgeServer {
  /** Edges with a [[HttpEdgeServer.stream]] source, by key, until stopped. */
  private val live = new java.util.concurrent.ConcurrentHashMap[String, HttpEdgeServer]()

  private[streaming] def streamed(key: String): Option[HttpEdgeServer] = Option(live.get(key))
}
