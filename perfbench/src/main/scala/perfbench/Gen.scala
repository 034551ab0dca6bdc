package perfbench

import graft.streaming.EdgeRequest

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One generated tracker request. `bytes` is exactly what goes on the wire;
  * the other fields let the in-process edge timings rebuild the
  * [[EdgeRequest]] the server would see. `seq` is the tag carried in the
  * querystring (`bq=<seq>`), which ties the request to its spool line. */
final case class GenRequest(
    seq: Long,
    route: String,
    method: String,
    rawUri: String,
    headers: Vector[(String, String)],
    body: Option[String]) {

  lazy val bytes: Array[Byte] = {
    val b = body.map(_.getBytes(UTF_8))
    val sb = new StringBuilder
    sb.append(method).append(' ').append(rawUri).append(" HTTP/1.1\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    b.foreach(x => sb.append("Content-Length: ").append(x.length).append("\r\n"))
    sb.append("\r\n")
    val head = sb.toString.getBytes(UTF_8)
    b.fold(head)(head ++ _)
  }

  def bodyBytes: Int = body.fold(0)(_.getBytes(UTF_8).length)

  /** The request as the edge server's `buildRequest` would hand it to
    * `HttpEdge.respond` / `HttpEdge.envelopeJson` (header names normalized
    * the way the JDK server stores them). */
  def edgeRequest(eventId: Long, timestampMs: Long): EdgeRequest = {
    def first(name: String) =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) && v.nonEmpty => v }
    val cookies = headers.collect { case (k, v) if k.equalsIgnoreCase("Cookie") => v }
      .flatMap(_.split(";")).flatMap { part =>
        val kv = part.trim.split("=", 2)
        if (kv.length == 2 && kv(0).nonEmpty) Some(kv(0) -> kv(1)) else None
      }.toMap
    val all = headers ++ body.map(b => "Content-Length" -> b.getBytes(UTF_8).length.toString)
    val lines = all.map { case (k, v) =>
      s"${k.head.toUpper}${k.tail.toLowerCase}: $v"
    }.sorted
    EdgeRequest(eventId, timestampMs, method, rawUri, body,
      first("Content-Type"), first("User-Agent"), first("Referer"),
      first("Host").getOrElse(""),
      first("X-Forwarded-For").map(_.split(",")(0).trim).orElse(Some("127.0.0.1")),
      first("Origin"), first("SP-Anonymous"), cookies, lines)
  }
}

/** Seeded request streams. The same arguments give a
  * byte-identical stream; nothing depends on time or on the server.
  *
  * The mix follows the route shares of
  * `graft.sources.EventEnvelopeAdapter` (m = event_id % 20): tp2 POSTs with
  * 1-3 elements (60%), `/i` pixels (15%), `/ice.png` (5%), `/r/tp2`
  * redirects (5%), path-remapped `/com.acme/track` POSTs (10%) and the
  * Amplitude bridge (5%); about 6% malformed querystrings off the redirect
  * route (an empty and a
  * bare-`=` token: legal in a URI, so they reach the pipeline, but invalid
  * querystrings there), and DNT-cookie
  * and `SP-Anonymous` slices. `oversizeShare` of the tp2 POSTs carry a body
  * larger than `maxBytes`. The pixel-only stream is `GET /i` with the
  * payload in the querystring: no body, no malformed querystrings, no DNT
  * or anonymous slice. */
object Gen {

  private val Tp2 = "/com.snowplowanalytics.snowplow/tp2"
  private val EventTypes = Array("pv", "pp", "se", "ue", "tr")
  private val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"

  private def word(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Alnum.charAt(r.nextInt(Alnum.length))); i += 1 }
    sb.toString
  }

  private def uuid(r: SplittableRandom): String =
    new java.util.UUID(r.nextLong(), r.nextLong()).toString

  private def tp2Body(r: SplittableRandom, elements: Int, pad: Int): String = {
    val els = (0 until elements).map { i =>
      val p = if (i == 0 && pad > 0) word(r, pad) else word(r, 1 + r.nextInt(4))
      s"""{"e":"${EventTypes(r.nextInt(EventTypes.length))}","p":"$p"}"""
    }
    "{\"schema\":\"iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4\",\"data\":[" +
      els.mkString(",") + "]}"
  }

  private def amplitudeBody(r: SplittableRandom, user: Int): String = {
    val els = (0 until 1 + r.nextInt(2)).map { _ =>
      val ip = if (r.nextBoolean()) "$remote" else "1.2.3.4"
      s"""{"device_id":"d$user","event_type":"${EventTypes(r.nextInt(EventTypes.length))}","ip":"$ip"}"""
    }
    "{\"api_key\":\"test-key\",\"events\":[" + els.mkString(",") + "]}"
  }

  def generate(seed: Long, count: Int, seqBase: Long, pixelOnly: Boolean, maxBytes: Int,
      oversizeShare: Double): Array[GenRequest] = {
    // mixed first: SplittableRandom streams of nearby raw seeds overlap
    val r = new SplittableRandom(scala.util.hashing.byteswap64(seed ^ 0x5DEECE66DL))
    Array.tabulate(count) { i =>
      if (pixelOnly) pixel(r, seqBase + i) else mix(r, seqBase + i, maxBytes, oversizeShare)
    }
  }

  private def commonHeaders(r: SplittableRandom, user: Int): Vector[(String, String)] = {
    val h = Vector.newBuilder[(String, String)]
    h += "Host" -> s"collector-${user % 3}.example.com"
    h += "User-Agent" -> s"Mozilla/5.0 (agent ${user % 10})"
    if (r.nextInt(5) == 0) h += "Referer" -> s"https://referrer.example.com/p${r.nextInt(50)}"
    if (r.nextInt(7) != 0) h += "X-Forwarded-For" -> s"10.${user % 250}.0.${r.nextInt(250)}"
    h.result()
  }

  private def pixel(r: SplittableRandom, seq: Long): GenRequest = {
    val user = r.nextInt(100000)
    val nuid = if (r.nextInt(3) == 0) s"&nuid=${uuid(r)}" else ""
    val qs = s"e=${EventTypes(r.nextInt(EventTypes.length))}&aid=app${user % 5}" +
      s"&url=https%3A%2F%2Fsite${user % 7}.example.com%2F${word(r, 3 + r.nextInt(12))}$nuid&bq=$seq"
    val h = commonHeaders(r, user) ++
      (if (user % 4 != 0) Vector("Cookie" -> s"sp=${uuid(r)}") else Vector.empty)
    GenRequest(seq, "pixel", "GET", s"/i?$qs", h, None)
  }

  private def mix(r: SplittableRandom, seq: Long, maxBytes: Int,
      oversizeShare: Double): GenRequest = {
    val user = r.nextInt(100000)
    val m = r.nextInt(20)
    val route =
      if (m <= 11) "tp2" else if (m <= 14) "pixel" else if (m == 15) "ice"
      else if (m == 16) "redirect" else if (m <= 18) "remap" else "amplitude"
    val path = route match {
      case "tp2" => Tp2
      case "pixel" => "/i"
      case "ice" => "/ice.png"
      case "redirect" => "/r/tp2"
      case "remap" => "/com.acme/track"
      case _ => "/com.amplitude/2/httpapi"
    }
    val method = if (route == "pixel" || route == "ice" || route == "redirect") "GET" else "POST"
    // a redirect without a valid querystring has no target and answers 400
    val malformed = route != "redirect" && r.nextInt(16) == 0
    val nuid = if (r.nextInt(3) == 0) s"&nuid=${uuid(r)}" else ""
    val target =
      if (route == "redirect")
        s"&u=https%3A%2F%2Fdest${user % 10}.example.com%2Flanding"
      else ""
    val qs =
      if (malformed) s"e=bad&&==&bq=$seq"
      else s"e=${EventTypes(r.nextInt(EventTypes.length))}&aid=app${user % 5}$nuid$target&bq=$seq"
    val body = route match {
      case "tp2" | "remap" =>
        val pad =
          if (route == "tp2" && r.nextDouble() < oversizeShare) maxBytes + r.nextInt(maxBytes)
          else 0
        Some(tp2Body(r, 1 + r.nextInt(3), pad))
      case "amplitude" => Some(amplitudeBody(r, user))
      case _ => None
    }
    val cookies = Seq(
      if (user % 4 != 0) Some(s"sp=${uuid(r)}") else None,
      if (r.nextInt(13) == 0) Some("sp-dnt=true") else None).flatten
    val h = commonHeaders(r, user) ++
      (if (cookies.nonEmpty) Vector("Cookie" -> cookies.mkString("; ")) else Vector.empty) ++
      (if (r.nextInt(11) == 0) Vector("SP-Anonymous" -> "*") else Vector.empty) ++
      (if (r.nextInt(6) == 0) Vector("Origin" -> "https://partner.io") else Vector.empty) ++
      (if (method == "POST") Vector("Content-Type" -> "application/json") else Vector.empty)
    GenRequest(seq, route, method, s"$path?$qs", h, body)
  }

  /** SHA-256 over the wire bytes of a stream (the determinism check). */
  def digest(reqs: Array[GenRequest]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    reqs.foreach(g => md.update(g.bytes))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Route shares, body-size quantiles and the share of bodies larger
    * than `maxBytes` — printed with every run. */
  def describe(reqs: Array[GenRequest], maxBytes: Int): String = {
    val n = reqs.length.toDouble
    val shares = reqs.groupBy(_.route).toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=${v.length / n}%.3f" }.mkString(" ")
    val bodies = reqs.filter(_.body.isDefined).map(_.bodyBytes).sorted
    def q(p: Double) = if (bodies.isEmpty) 0 else bodies(((bodies.length - 1) * p).round.toInt)
    val over = reqs.count(_.bodyBytes > maxBytes) / n
    val malformed = reqs.count(_.rawUri.contains("&&==")) / n
    f"routes: $shares | body bytes p50=${q(0.5)} p90=${q(0.9)} p99=${q(0.99)} max=${q(1.0)} " +
      f"| bodies > maxBytes($maxBytes)=$over%.4f | malformed qs=$malformed%.4f"
  }
}
