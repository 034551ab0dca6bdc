package graft

import graft.operators.CollectorConfig
import graft.queries.Collector
import graft.streaming.{EdgeRequest, HttpEdge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** F5 CORS origin matching — behavioral parity with the reference's
  * `isOriginAllowed` / `buildCorsHeaders` (AmplitudeBridge.scala:60-112). */
class CorsSpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark

  private def decide(cfg: CollectorConfig, origins: (Long, String)*): Map[Long, (Boolean, String)] =
    origins.map { case (id, origin) =>
      val (allowed, allowOrigin) = HttpEdge.cors(EdgeRequest(
        eventId = id, timestampMs = 0L, method = "GET", rawUri = "/i", body = None,
        contentType = None, userAgent = None, referer = None, host = "h", remoteIp = None,
        origin = Option(origin), spAnonymous = None, cookies = Map.empty, headers = Nil), cfg)
      id -> (allowed, allowOrigin.orNull)
    }.toMap

  private val whitelist = CollectorConfig(
    corsEnabled = true, corsDomains = Seq("*.allowed.example.com", "partner.io"))

  test("wildcard domain: dotted subdomain and bare base match, suffix-without-dot does not") {
    val d = decide(whitelist,
      1L -> "https://sub.allowed.example.com",
      2L -> "https://a.b.allowed.example.com",
      3L -> "https://allowed.example.com",
      4L -> "https://notallowed.example.com",
      5L -> "https://xallowed.example.com")
    assert(d(1L) === (true, "https://sub.allowed.example.com"))
    assert(d(2L) === (true, "https://a.b.allowed.example.com"))
    assert(d(3L) === (true, "https://allowed.example.com"))
    assert(d(4L) === (false, null))
    assert(d(5L) === (false, null))
  }

  test("exact domain: itself and dotted subdomains match, lookalike suffix does not") {
    val d = decide(whitelist,
      1L -> "https://partner.io",
      2L -> "https://api.partner.io",
      3L -> "https://evilpartner.io",
      4L -> "https://partner.io.evil.net")
    assert(d(1L)._1 && d(2L)._1)
    assert(!d(3L)._1 && !d(4L)._1)
  }

  test("no Origin header allows all with a literal * header") {
    val d = decide(whitelist, 1L -> null)
    assert(d(1L) === (true, "*"))
  }

  test("'*' in the domain list (or whitelisting disabled) echoes every origin") {
    val star = CollectorConfig(corsEnabled = true, corsDomains = Seq("*"))
    val off = CollectorConfig(corsEnabled = false, corsDomains = Seq("partner.io"))
    for (cfg <- Seq(star, off)) {
      val d = decide(cfg, 1L -> "https://anything.example.net")
      assert(d(1L) === (true, "https://anything.example.net"))
    }
  }

  test("Set-Cookie: suppressed under DNT and SP-Anonymous, domain from Origin, flags rendered") {
    val env = graft.sources.EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf)
    val out = Collector.setCookie(env, CollectorConfig.cookieScale).cache()
    // DNT (event_id % 13 == 0) and anon (% 11 == 0) rows never emit
    assert(out.filter((col("event_id") % 13 === 0 || col("event_id") % 11 === 0)
      && col("emitted")).count() === 0)
    val emitted = out.filter(col("emitted"))
    assert(emitted.count() > 0)
    assert(emitted.filter(!col("set_cookie").startsWith("sp=")).count() === 0)
    assert(emitted.filter(!col("set_cookie").contains("; Path=/; Secure; SameSite=None")).count() === 0)
    // every emitted cookie resolves some configured-or-fallback domain
    assert(emitted.filter(!col("set_cookie").contains("; Domain=")).count() === 0)
    out.unpersist()
  }

  test("preflight status is 403 exactly on blocked rows over the envelope stream") {
    val env = graft.sources.EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf)
    val out = Collector.cors(env, CollectorConfig.corsScale).cache()
    assert(out.filter(!col("allowed") && col("preflight_status") =!= 403).count() === 0)
    assert(out.filter(col("allowed") && col("preflight_status") =!= 200).count() === 0)
    // fixture exercises both outcomes
    assert(out.filter(col("allowed")).count() > 0)
    assert(out.filter(!col("allowed")).count() > 0)
    // blocked rows carry no CORS header; allowed origin-bearing rows echo
    assert(out.filter(!col("allowed") && col("allow_origin").isNotNull).count() === 0)
    assert(out.filter(col("allowed") && col("origin").isNotNull &&
      col("allow_origin") =!= col("origin")).count() === 0)
    out.unpersist()
  }
}
