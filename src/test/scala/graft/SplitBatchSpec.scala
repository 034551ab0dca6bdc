package graft

import graft.operators.{CollectorConfig, CollectorPipeline, PayloadRecord, SplitBatch, ThriftPayload}
import org.scalatest.funsuite.AnyFunSuite

/** Packer semantics (reference `SplitBatch.scala:40-74` behaviors,
  * re-derived): greedy in order, per-batch cap includes envelope + join
  * bytes, irreducible elements flagged -1. */
class SplitBatchSpec extends AnyFunSuite with WallBudget {

  test("everything fits in one batch") {
    assert(SplitBatch.pack(IndexedSeq(10L, 10L, 10L), base = 10, join = 1, max = 50)
      === IndexedSeq(0, 0, 0))
  }

  test("greedy split opens a new batch when the cap would be exceeded") {
    // base 10 + 30 + 1 + 30 = 71 > 70 → second element starts batch 1
    assert(SplitBatch.pack(IndexedSeq(30L, 30L, 30L), base = 10, join = 1, max = 70)
      === IndexedSeq(0, 1, 2))
    // max 71 → two fit, third overflows
    assert(SplitBatch.pack(IndexedSeq(30L, 30L, 30L), base = 10, join = 1, max = 71)
      === IndexedSeq(0, 0, 1))
  }

  test("irreducible element marked -1 without disturbing neighbors") {
    assert(SplitBatch.pack(IndexedSeq(5L, 100L, 5L), base = 10, join = 1, max = 30)
      === IndexedSeq(0, -1, 0))
  }

  test("empty input") {
    assert(SplitBatch.pack(IndexedSeq.empty, 10, 1, 100) === IndexedSeq.empty)
  }

  test("reference golden shape: 7 events, oversized split good=2 batches / bad=4") {
    // mirrors the reference scenario (SplitBatchSpec.scala:139-157): a
    // 7-element body where 4 elements individually exceed the cap packs
    // the 3 small ones into 2 batches and flags 4 as size violations
    val sizes = IndexedSeq(35L, 500L, 35L, 500L, 500L, 35L, 500L)
    val assigned = SplitBatch.pack(sizes, base = 20, join = 1, max = 100)
    assert(assigned.count(_ == -1) === 4)
    assert(assigned.filter(_ >= 0).distinct.length === 2)
  }

  test("count-capped re-chunk: at most maxCount records per batch (SQS shape)") {
    // 25 tiny messages, byte cap never binds -> batches of exactly 10,10,5
    val assigned = SplitBatch.packWithCount(
      IndexedSeq.fill(25)(10L), base = 0, join = 0, max = 10000, maxCount = 10)
    val sizes = assigned.groupBy(identity).map(_._2.length).toSeq.sorted
    assert(sizes === Seq(5, 10, 10))
    // byte cap still binds when tighter than the count cap
    val tight = SplitBatch.packWithCount(
      IndexedSeq.fill(6)(10L), base = 0, join = 0, max = 25, maxCount = 10)
    assert(tight.groupBy(identity).values.map(_.length).max <= 2)
  }

  test("properties: caps respected, batches dense, order preserved") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val sizes = IndexedSeq.fill(rnd.nextInt(20))(1L + rnd.nextInt(40))
      val base = 10L; val join = 1L; val max = 60L
      val assigned = SplitBatch.pack(sizes, base, join, max)
      assert(assigned.length === sizes.length)
      val byBatch = assigned.zip(sizes).filter(_._1 >= 0).groupBy(_._1)
      // every batch within cap
      byBatch.foreach { case (_, elems) =>
        val bytes = base + elems.map(_._2).sum + (elems.size - 1) * join
        assert(bytes <= max)
      }
      // dense ascending batch ids
      val ids = assigned.filter(_ >= 0)
      if (ids.nonEmpty) {
        assert(ids.head === 0)
        ids.sliding(2).foreach {
          case Seq(a, b) => assert(b == a || b == a + 1)
          case _ =>
        }
      }
      // irreducible iff base + size > max
      assigned.zip(sizes).foreach { case (b, s) =>
        assert((b == -1) === (base + s > max))
      }
    }
  }

  test("reference golden: oversized GET payload — 1019 bytes, 'CollectorP' prefix") {
    // reference SplitBatchSpec.scala:75-90: an empty CollectorPayload with a
    // 1000-char querystring serializes to exactly 1019 bytes (7+1000 string
    // field + 11 i64 timestamp + 1 stop) and the SizeViolation keeps
    // toString().take(maxSize/10) = "CollectorP"
    val r = PayloadRecord(null, null, 0L, null, null, null, null, null,
      "x" * 1000, null, null, null, null, null)
    assert(ThriftPayload.serialize(r).length === 1019)
    assert(ThriftPayload.toStringRepr(r).take(100 / 10) === "CollectorP")
  }

  test("reference golden: oversized POST with unparseable body — 1019 bytes") {
    // reference SplitBatchSpec.scala:92-108
    val r = PayloadRecord(null, null, 0L, null, null, null, null, null,
      null, "s" * 1000, null, null, null, null)
    assert(ThriftPayload.serialize(r).length === 1019)
    assert(ThriftPayload.toStringRepr(r).take(10) === "CollectorP")
  }

  test("reference golden: oversized even without body — 1091 bytes, toString prefix") {
    // reference SplitBatchSpec.scala:110-137: maxBytes 1000, 1000-char path
    val r = PayloadRecord(null, null, 0L, null, null, null, null, "p" * 1000,
      null, """{"schema":"s","data":[{"e":"se","tv":"js"},{"e":"se","tv":"js"}]}""",
      null, null, null, null)
    assert(ThriftPayload.serialize(r).length === 1091)
    assert(ThriftPayload.toStringRepr(r).take(1000 / 10) ===
      "CollectorPayload(schema:null, ipAddress:null, timestamp:0, " +
        "encoding:null, collector:null, path:" + "p" * 5)
  }

  /** Payload rows of the `CollectorPipeline.payloads` shape, hand-built. */
  private def payloadRows(recs: Seq[(Long, PayloadRecord)]): org.apache.spark.sql.DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    recs.map { case (id, r) =>
      (id, r.schema, r.ipAddress, r.timestamp, r.encoding, r.collector, r.userAgent,
        r.refererUri, r.path, r.querystring, r.body, r.headers, r.contentType,
        r.hostname, r.networkUserId)
    }.toDF("event_id", "schema_uri", "ip", "timestamp_ms", "encoding", "collector",
      "user_agent", "referer_uri", "path", "querystring", "body", "headers",
      "content_type", "hostname", "network_userid")
  }

  test("split decision: each branch's reason, bad rows and disposition on hand-built payloads") {
    val max = 300
    def pad(n: Int) = "x" * n
    def el(n: Int) = s"""{"a":"${pad(n)}"}""" // serializes to n + 8 bytes
    def sd(elems: String*) =
      s"""{"schema":"iglu:com.acme/p/jsonschema/1-0-0","data":[${elems.mkString(",")}]}"""
    def rec(path: String, qs: String, body: String) = PayloadRecord(
      "iglu:s", "10.0.0.1", 1700000000000L + path.length, "UTF-8", "c", null, null,
      path, qs, body, Seq("Host: h"), null, "h", "n")
    val tooLarge = "this POST request split is still too large"
    // id -> (payload, disposition, reason, bad-row actual sizes; -1 = whole wire size)
    val cases = Map(
      1L -> ((rec("/i", "e=pv", null), "good", null, Seq.empty[Long])),
      2L -> ((rec("/i", "e=pv&p=" + pad(400), null), "bad",
        "GET requests cannot be split", Seq(-1L))),
      3L -> ((rec("/tp2", null, pad(400)), "bad",
        "cannot split POST requests which are not json", Seq(-1L))),
      4L -> ((rec("/tp2", null, s"""{"data":[${el(400)}]}"""), "bad",
        "cannot split POST requests which are not self-describing", Seq(-1L))),
      5L -> ((rec("/tp2", null, s"""{"schema":"iglu:x","data":${el(400)}}"""), "bad",
        "cannot split POST requests which do not contain a data array", Seq(-1L))),
      6L -> ((rec("/" + pad(400), null, sd(el(5))), "bad",
        "cannot split this POST request because event without \"data\" field is still too big",
        Seq(-1L))),
      7L -> ((rec("/tp2", null, sd(el(10), el(400), el(10))), "split", tooLarge, Seq(408L))),
      8L -> ((rec("/tp2", null, sd(el(100), el(100), el(100))), "split", null, Seq.empty[Long])),
      9L -> ((rec("/tp2", null, sd(el(400), el(400))), "bad", tooLarge, Seq(408L, 408L))))
    val p = payloadRows(cases.toSeq.map { case (id, c) => id -> c._1 })
    val routes = SplitBatch.routeWire(p, max).collect().map(r => r.event_id -> r).toMap
    val bad = SplitBatch.badRowFields(p, max).collect().groupBy(_.event_id)
    assert(routes.keySet === cases.keySet)
    cases.foreach { case (id, (r, disposition, reason, sizes)) =>
      val whole = ThriftPayload.serialize(r).length.toLong
      val route = routes(id)
      val rows = bad.getOrElse(id, Array.empty[graft.operators.BadRowFields])
      assert((whole < max) === (id == 1L), s"event $id")
      assert(route.disposition === disposition, s"event $id")
      assert(route.reason === reason, s"event $id")
      assert(route.n_bad === rows.length, s"event $id")
      assert((disposition == "good") === (route.n_good == 1 && rows.isEmpty), s"event $id")
      assert(rows.isEmpty === (reason == null), s"event $id")
      assert(rows.map(_.actual_size).toSeq === sizes.map(s => if (s < 0) whole else s), s"event $id")
      rows.foreach { b =>
        assert(b.reason === reason && b.timestamp_ms === r.timestamp, s"event $id")
        assert(b.payload_prefix === ThriftPayload.toStringRepr(r).take(max / 10), s"event $id")
      }
    }
    assert(routes(8L).n_good === 3) // 108-byte elements, ~200-byte budget: one per sub-batch
    assert(routes(7L).n_good === 1 && routes(9L).n_good === 0)
  }

  test("wireRouteScale fixture: route's SizeViolation ids are routeWire's non-good ids") {
    import graft.sources.EventEnvelopeAdapter
    import org.apache.spark.sql.functions.col
    val cfg = CollectorConfig.wireRouteScale
    val env = EventEnvelopeAdapter.envelopes(TestSpark.spark, TestSpark.Sf)
    val p = CollectorPipeline.payloads(env, cfg)
    val routes = SplitBatch.routeWire(p, cfg.maxBytes).collect()
    val nonGood = routes.filter(_.disposition != "good").map(_.event_id).toSet
    val violations = CollectorPipeline.route(env, cfg)
      .filter(col("bad_row_type") === "SizeViolation")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(nonGood.nonEmpty)
    assert(violations === nonGood)
    val badCounts = SplitBatch.badRowFields(p, cfg.maxBytes).collect()
      .groupBy(_.event_id).map { case (id, rows) => id -> rows.length }
    routes.foreach(r => assert(r.n_bad === badCounts.getOrElse(r.event_id, 0), s"event ${r.event_id}"))
  }

  test("splitTp2 packs the synthetic bodies into ≤2-element batches") {
    import graft.sources.EventEnvelopeAdapter
    val env = EventEnvelopeAdapter.envelopes(TestSpark.spark, TestSpark.Sf)
    val out = SplitBatch.splitTp2(env, 200).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.batch_idx >= 0))
    val perBatch = out.groupBy(r => (r.event_id, r.batch_idx)).map(_._2.length)
    assert(perBatch.max <= 2)
    // 3-element bodies must split
    val triples = out.groupBy(_.event_id).filter(_._2.length == 3)
    assert(triples.nonEmpty)
    triples.foreach { case (_, rows) =>
      assert(rows.map(_.batch_idx).distinct.length === 2)
    }
  }
}
