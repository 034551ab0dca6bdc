package graft

import graft.operators.{CollectorConfig, CollectorPipeline, PayloadRecord, ThriftPayload}
import graft.sources.EventEnvelopeAdapter
import graft.streaming.PipelineMonitor
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ThriftMonitorSpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark

  private val full = PayloadRecord(
    schema = "iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0",
    ipAddress = "10.1.0.2", timestamp = 1700000000123L, encoding = "UTF-8",
    collector = "graft-0.1.0-spark", userAgent = "UA/1.0",
    refererUri = "https://r.example.com/x", path = "/com.snowplowanalytics.snowplow/tp2",
    querystring = "e=pv&aid=app1", body = "{\"schema\":\"x\",\"data\":[]}",
    headers = Seq("Host: h.example.com", "User-Agent: UA/1.0"),
    contentType = "application/json", hostname = "h.example.com",
    networkUserId = "00000000-0000-0000-0000-000000000000")

  test("thrift round-trip preserves every field") {
    val bytes = ThriftPayload.serialize(full)
    assert(bytes.nonEmpty)
    assert(ThriftPayload.deserialize(bytes) === full)
  }

  test("thrift wire digest golden: fixed fixture serializes to pinned bytes") {
    // locks the whole wire format (field ids, types, ordering, lengths)
    // across rounds — any encoder change that alters even one byte of
    // this fixture's serialization fails here, not downstream in enrich
    val bytes = ThriftPayload.serialize(full)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
    assert(bytes.length === 410, s"wire length changed: ${bytes.length}")
    assert(md5 === "245708d4299099a651994b2d9eda344e", s"wire digest changed: $md5")
  }

  test("thrift skips null optionals, keeps required") {
    val sparse = full.copy(userAgent = null, refererUri = null, body = null,
      contentType = null, headers = Seq.empty)
    val out = ThriftPayload.deserialize(ThriftPayload.serialize(sparse))
    assert(out.userAgent === null)
    assert(out.headers === null) // empty list not written
    assert(out.timestamp === full.timestamp)
    assert(out.schema === full.schema)
    // sparse record strictly smaller on the wire
    assert(ThriftPayload.serialize(sparse).length < ThriftPayload.serialize(full).length)
  }

  test("pipeline payloads encode and decode consistently") {
    val cfg = CollectorConfig.testScale
    val payloads = CollectorPipeline.payloads(
      EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf), cfg)
    val wire = ThriftPayload.encode(payloads)
    val first = wire.head()
    val decoded = ThriftPayload.deserialize(first.thrift)
    val row = payloads.filter(col("event_id") === first.event_id).head()
    assert(decoded.ipAddress === row.getAs[String]("ip"))
    assert(decoded.timestamp === row.getAs[Long]("timestamp_ms"))
    assert(decoded.networkUserId === row.getAs[String]("network_userid"))
    assert(decoded.hostname === row.getAs[String]("hostname"))
    assert(wire.count() === payloads.count())
  }

  test("PipelineMonitor tracks progress and health of a streaming query") {
    val mon = new PipelineMonitor
    spark.streams.addListener(mon)
    try {
      val src = java.nio.file.Files.createTempDirectory("mon-src").toString
      val dst = java.nio.file.Files.createTempDirectory("mon-dst").toString
      val ckpt = java.nio.file.Files.createTempDirectory("mon-ckpt").toString
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(src)
      val q = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .queryName("mon-test")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", dst).start()
      q.awaitTermination(60000)
      // listener delivery is async
      spark.streams.awaitAnyTermination(1)
      Thread.sleep(500)
      assert(mon.healthy)
      val snap = mon.snapshot
      assert(snap.contains("mon-test"))
      assert(snap("mon-test").numInputRows === 2)
      val statsd = graft.streaming.StatsdExport.lines(snap)
      assert(statsd.exists(_.matches("graft\\.mon-test\\.input_rows:2\\|c")))
      assert(statsd.exists(_.endsWith(".alive:0|g"))) // AvailableNow query has terminated
    } finally spark.streams.removeListener(mon)
  }

  test("PipelineMonitor keeps the latest trigger's durationMs; StatsD exports each phase as a timer") {
    val mon = new PipelineMonitor
    spark.streams.addListener(mon)
    try {
      val src = java.nio.file.Files.createTempDirectory("dur-src").toString
      val ckpt = java.nio.file.Files.createTempDirectory("dur-ckpt").toString
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(src)
      val q = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .queryName("dur-test")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("noop").start()
      q.awaitTermination(60000)
      org.apache.spark.SparkTestAccess.drainListeners(spark.sparkContext)
      val phases = Seq("triggerExecution", "addBatch", "latestOffset", "getBatch",
        "walCommit", "queryPlanning", "commitOffsets")
      val health = mon.snapshot("dur-test")
      val last = q.lastProgress.durationMs
      phases.foreach { k =>
        assert(health.durationMs.get(k) === Some(last.get(k).longValue), k)
      }
      assert(health.durationMs("triggerExecution") >= health.durationMs("addBatch"))
      val statsd = graft.streaming.StatsdExport.lines(mon.snapshot)
      phases.foreach { k =>
        assert(statsd.contains(s"graft.dur-test.duration_ms.$k:${health.durationMs(k)}|ms"), k)
      }
    } finally spark.streams.removeListener(mon)
  }

  test("graceful shutdown flips health BEFORE the drain sleep and the query stop") {
    import graft.streaming.{GracefulShutdown, PipelineMonitor}
    val mon = new PipelineMonitor
    spark.streams.addListener(mon)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("gs-ckpt").toString
      val q = spark.readStream.format("rate").option("rowsPerSecond", "5").load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .queryName("gs-test")
        .start()
      // let it start; a live healthy query is the precondition
      var waited = 0
      while (!mon.snapshot.contains("gs-test") && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(mon.healthy, "query must be healthy before the shutdown request")
      // record the observable order: at drain-sleep time health must
      // already be DOWN while the query is still RUNNING (the LB window).
      // r11: the drain sleep is preTerminationPeriod (here 1 ms), DISTINCT
      // from the terminationDeadline stop bound (here 5 s) — the sleeper
      // must receive the former, never the latter (reference
      // Collector.scala:215-220 keeps them separate)
      val order = scala.collection.mutable.ArrayBuffer.empty[String]
      GracefulShutdown.stop(mon, Seq(q),
        preTerminationMillis = 1L, preTerminationUnhealthy = true,
        terminationDeadlineMs = 5000L, sleeper = ms => {
          order += s"sleep($ms): healthy=${mon.healthy} active=${q.isActive}"
        })
      order += s"stopped: active=${q.isActive}"
      assert(order.head === "sleep(1): healthy=false active=true",
        s"health must flip before the preTerminationPeriod drain, got: $order")
      assert(!q.isActive, "query must be stopped after the drain window")
      assert(mon.isShuttingDown && !mon.healthy)
    } finally spark.streams.removeListener(mon)
  }

  test("preTerminationUnhealthy=false drains with /health still green (reference default)") {
    import graft.streaming.{GracefulShutdown, PipelineMonitor}
    // reference Collector.scala:211-214 flips health only inside the
    // `if (preTerminationUnhealthy)` arm; reference.conf:5 defaults false,
    // so a stock deployment drains with /health at 200 the whole window
    val mon = new PipelineMonitor
    spark.streams.addListener(mon)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("gs2-ckpt").toString
      val q = spark.readStream.format("rate").option("rowsPerSecond", "5").load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .queryName("gs2-test")
        .start()
      var waited = 0
      while (!mon.snapshot.contains("gs2-test") && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(mon.healthy)
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      GracefulShutdown.stop(mon, Seq(q), preTerminationMillis = 1L,
        sleeper = _ => { seen += s"sleep: healthy=${mon.healthy}" })
      assert(seen.head === "sleep: healthy=true",
        s"stock config must NOT 503 /health during the drain, got: $seen")
      assert(mon.isShuttingDown, "the drain state itself is still tracked")
      assert(mon.healthy, "health stays green after a healthy-drain stop")
      assert(!q.isActive)
    } finally spark.streams.removeListener(mon)
  }

  test("shutdown stops all queries first and awaits them on ONE shared 2x deadline") {
    import graft.streaming.{GracefulShutdown, PipelineMonitor}
    // r12 (ADVICE): the reference awaits the whole system once at 2x the
    // terminationDeadline (Collector.scala:219-220) — the bound must be
    // independent of query count, not N·2x as a sequential loop allows
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val budgets = scala.collection.mutable.ArrayBuffer.empty[Long]
    def stub(n: String): org.apache.spark.sql.streaming.StreamingQuery =
      new org.apache.spark.sql.streaming.StreamingQuery {
        def name: String = n
        def id: java.util.UUID = java.util.UUID.nameUUIDFromBytes(n.getBytes)
        def runId: java.util.UUID = id
        def sparkSession: org.apache.spark.sql.SparkSession = spark
        def isActive: Boolean = false
        def exception: Option[org.apache.spark.sql.streaming.StreamingQueryException] = None
        def status: org.apache.spark.sql.streaming.StreamingQueryStatus = null
        def recentProgress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress] =
          Array.empty
        def lastProgress: org.apache.spark.sql.streaming.StreamingQueryProgress = null
        def awaitTermination(): Unit = ()
        def awaitTermination(timeoutMs: Long): Boolean = {
          events.synchronized { events += s"await($n)"; budgets += timeoutMs }
          Thread.sleep(50)
          true
        }
        def processAllAvailable(): Unit = ()
        def stop(): Unit = events.synchronized { events += s"stop($n)" }
        def explain(): Unit = ()
        def explain(extended: Boolean): Unit = ()
      }
    val qs = Seq(stub("q1"), stub("q2"), stub("q3"), stub("q4"))
    GracefulShutdown.stop(new PipelineMonitor, qs, terminationDeadlineMs = 5000L)
    // every stop() precedes every awaitTermination()
    val firstAwait = events.indexWhere(_.startsWith("await"))
    assert(events.take(firstAwait).toSet === qs.map(q => s"stop(${q.name})").toSet,
      s"all stops must precede the first await, got: $events")
    // the await budgets drain ONE shared 2x pool: first ≤ 2x deadline,
    // later awaits see the earlier sleeps deducted
    assert(budgets.head <= 10000L)
    assert(budgets.zip(budgets.tail).forall { case (a, b) => b <= a },
      s"budgets must be non-increasing: $budgets")
    assert(budgets.last <= budgets.head - 100L,
      s"3×50 ms of earlier awaits must come out of the shared budget: $budgets")
  }

  test("S6 ops endpoints match the reference's golden responses") {
    import graft.streaming.OpsEndpoints._
    // reference CollectorServiceSpec "flashCrossDomainPolicy" goldens
    assert(flashCrossDomainPolicy(enabled = true, Seq("*"), secure = false) ===
      ((200, "<?xml version=\"1.0\"?>\n<cross-domain-policy>\n  <allow-access-from domain=\"*\" secure=\"false\" />\n</cross-domain-policy>")))
    assert(flashCrossDomainPolicy(enabled = true, Seq("*", "acme.com"), secure = false) ===
      ((200, "<?xml version=\"1.0\"?>\n<cross-domain-policy>\n  <allow-access-from domain=\"*\" secure=\"false\" />\n  <allow-access-from domain=\"acme.com\" secure=\"false\" />\n</cross-domain-policy>")))
    assert(flashCrossDomainPolicy(enabled = true, Seq.empty, secure = false) ===
      ((200, "<?xml version=\"1.0\"?>\n<cross-domain-policy>\n\n</cross-domain-policy>")))
    assert(flashCrossDomainPolicy(enabled = false, Seq("*"), secure = false) ===
      ((404, "404 not found")))
    assert(health(true) === ((200, "OK")))
    assert(health(false) === ((503, "Service Unavailable")))
    assert(robots === ((200, "User-agent: *\nDisallow: /")))
    assert(rootResponse(enabled = true, 302) === ((302, "")))
    assert(rootResponse(enabled = false, 302) === ((404, "404 not found")))
  }

  test("R9 StatsdEmitter pushes the line protocol over a real UDP socket with dogstatsd tags") {
    import graft.operators.StatsdSettings
    import graft.streaming.StatsdEmitter
    import java.net.{DatagramPacket, DatagramSocket, InetAddress}
    // A real UDP capture: the reference's NonBlockingStatsDClient is a
    // datagram push to hostname:port (Collector.scala:138-160); assert
    // bytes actually leave the process and arrive tagged.
    val server = new DatagramSocket(0, InetAddress.getByName("127.0.0.1"))
    server.setSoTimeout(5000)
    try {
      val settings = StatsdSettings(
        enabled = true, hostname = "127.0.0.1", port = server.getLocalPort,
        periodMs = 60000L, prefix = "snowplow.collector",
        tags = Map("app" -> "graft", "env" -> "te|st")) // hostile tag value
      val lines = Seq("snowplow.collector.good:7|c", "snowplow.collector.bad:1|c")
      val emitter = new StatsdEmitter(settings, Seq(() => lines))
      try emitter.flush() finally emitter.close() // close() flushes again; both arrive
      val buf = new Array[Byte](65536)
      val pkt = new DatagramPacket(buf, buf.length)
      server.receive(pkt)
      val got = new String(pkt.getData, 0, pkt.getLength, java.nio.charset.StandardCharsets.UTF_8)
      val gotLines = got.split('\n').toSeq
      // both lines packed into one datagram, each with the sorted,
      // sanitized constant-tag suffix
      assert(gotLines === Seq(
        "snowplow.collector.good:7|c|#app:graft,env:te_st",
        "snowplow.collector.bad:1|c|#app:graft,env:te_st"))

      // CollectorMain --http with statsd enabled pushes the edge's request
      // metrics, and stops pushing once the query ends
      def receive(): Option[Seq[String]] =
        try {
          val p = new DatagramPacket(buf, buf.length)
          server.receive(p)
          Some(new String(p.getData, 0, p.getLength, java.nio.charset.StandardCharsets.UTF_8)
            .split('\n').toSeq)
        } catch { case _: java.net.SocketTimeoutException => None }
      def dir(n: String) = java.nio.file.Files.createTempDirectory(s"statsd-$n").toString
      val cfg = CollectorConfig.testScale.copy(statsd = settings.copy(tags = Map.empty, periodMs = 100L))
      val (edge, running) = graft.CollectorMain.wireHttp(spark, dir("spool"), dir("good"),
        dir("bad"), dir("ckpt"), org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L), cfg)
      try {
        val conn = java.net.URI.create(s"http://127.0.0.1:${edge.port}/i?e=pv").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        try assert(conn.getResponseCode === 200) finally conn.disconnect()
        def within20s = { val end = System.nanoTime() + 20L * 1000000000L; () => System.nanoTime() < end }
        val seeing = within20s
        var seen = false
        while (!seen && seeing())
          seen = receive().exists(_.contains("snowplow.collector.http.requests.get.200:1|c"))
        assert(seen, "no datagram carried the edge's GET 200 count")
        running.query.stop()
        // a gap of ten push periods: the emitter closed with the query
        server.setSoTimeout(1000)
        val waiting = within20s
        var quiet = false
        while (!quiet && waiting()) quiet = receive().isEmpty
        assert(quiet, "datagrams kept arriving after the query stopped")
      } finally {
        running.query.stop()
        edge.stop()
      }
    } finally server.close()
  }

  test("R9 StatsdEmitter packs datagrams under the MTU budget and gates on enabled") {
    import graft.streaming.{PipelineMonitor, StatsdEmitter}
    import graft.operators.StatsdSettings
    // packing: 3 lines of ~600B -> two datagrams (2+1) under 1432B
    val l = "m" * 590 + ":1|c"
    val packed = StatsdEmitter.pack(Seq(l, l, l), 1432)
    assert(packed.size === 2)
    assert(packed.head === l + "\n" + l)
    assert(packed(1) === l)
    // a single oversize line still ships alone rather than being dropped
    val big = "x" * 2000 + ":1|c"
    assert(StatsdEmitter.pack(Seq(big), 1432) === Seq(big))
    assert(StatsdEmitter.pack(Seq.empty, 1432) === Seq.empty)
    // enabled=false -> no emitter (the reference's `case _ => None` arm)
    val mon = new PipelineMonitor
    assert(StatsdEmitter.fromSettings(StatsdSettings(enabled = false), mon, None).isEmpty)
    val live = StatsdEmitter.fromSettings(
      StatsdSettings(enabled = true, hostname = "127.0.0.1", port = 8125, periodMs = 60000L),
      mon, None)
    assert(live.isDefined)
    live.foreach(_.close())
  }
}
