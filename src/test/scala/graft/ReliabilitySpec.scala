package graft

import graft.sinks.{CircuitBreaker, ClientSinks, CollectingSink, FailoverSink, ParquetDirSink, RetryPolicy}
import graft.sinks.ClientSinks.{Clients, Leg, Retries}
import org.scalatest.funsuite.AnyFunSuite

class ReliabilitySpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

  test("retry backoff stays within [min, max∨last·2/3] and is deterministic per seed") {
    val p1 = new RetryPolicy(500, 1500, 3, seed = 7)
    val p2 = new RetryPolicy(500, 1500, 3, seed = 7)
    val seq1 = (1 to 20).map(_ => p1.nextBackoffMs())
    val seq2 = (1 to 20).map(_ => p2.nextBackoffMs())
    assert(seq1 === seq2)
    var last = 0L
    seq1.foreach { b =>
      assert(b >= 500)
      assert(b <= math.max(1500, last * 2 / 3))
      last = b
    }
  }

  test("circuit breaker: closed → open after maxFailures → halfopen after reset → closed") {
    var now = 0L
    val cb = new CircuitBreaker(maxFailures = 3, resetMs = 1000, clock = () => now)
    assert(cb.allowRequest)
    (1 to 3).foreach(_ => cb.onFailure())
    assert(!cb.allowRequest) // open
    now = 500
    assert(!cb.allowRequest) // still open
    now = 1100
    assert(cb.allowRequest) // half-open probe allowed
    cb.onFailure() // probe fails → re-open
    assert(!cb.allowRequest)
    now = 2500
    assert(cb.allowRequest)
    cb.onSuccess()
    assert(cb.allowRequest)
  }

  test("failover: transient primary failures retried, then success — fallback untouched") {
    val primary = new CollectingSink("p", failFirst = 2)
    val fallback = new CollectingSink("f")
    val sink = new FailoverSink(primary, fallback,
      new RetryPolicy(1, 2, maxRetries = 3, seed = 1),
      new CircuitBreaker(10, 1000), sleeper = _ => ())
    sink.write(batch, 0L)
    assert(primary.batches === Seq(0L))
    assert(fallback.batches.isEmpty)
  }

  test("failover: primary exhausted → fallback takes the batch") {
    val primary = new CollectingSink("p", failFirst = 100)
    val fallback = new CollectingSink("f")
    val sink = new FailoverSink(primary, fallback,
      new RetryPolicy(1, 2, maxRetries = 2, seed = 1),
      new CircuitBreaker(10, 1000), sleeper = _ => ())
    sink.write(batch, 7L)
    assert(primary.batches.isEmpty)
    assert(fallback.batches === Seq(7L))
  }

  test("failover: both failing rethrows (micro-batch replay semantics)") {
    val primary = new CollectingSink("p", failFirst = 100)
    val fallback = new CollectingSink("f", failFirst = 100)
    val sink = new FailoverSink(primary, fallback,
      new RetryPolicy(1, 2, maxRetries = 1, seed = 1),
      new CircuitBreaker(10, 1000), sleeper = _ => ())
    assertThrows[RuntimeException](sink.write(batch, 1L))
  }

  test("failover: an interrupt (query stop) propagates at once, no retry and no fallback") {
    for (stop <- Seq[Throwable](new InterruptedException("stop"),
        new RuntimeException("write failed", new java.io.InterruptedIOException("stop")))) {
      var writes = 0
      val primary = new graft.sinks.EventSink {
        val name = "p"
        def write(b: org.apache.spark.sql.DataFrame, id: Long): Unit = { writes += 1; throw stop }
      }
      val fallback = new CollectingSink("f")
      val sink = new FailoverSink(primary, fallback,
        new RetryPolicy(1, 2, maxRetries = 3, seed = 1),
        new CircuitBreaker(10, 1000), sleeper = _ => ())
      assert(intercept[Throwable](sink.write(batch, 4L)) eq stop)
      assert(writes === 1 && fallback.batches.isEmpty, stop.toString)
    }
  }

  test("failover: a socket timeout (also as a cause, also in a cyclic cause chain) is retried, then fails over") {
    // job aborted -> read timed out -> job aborted -> ...
    val loop = new RuntimeException("job aborted")
    val timeout = new java.net.SocketTimeoutException("read timed out")
    loop.initCause(timeout)
    timeout.initCause(loop)
    for (fail <- Seq[Throwable](new java.net.SocketTimeoutException("read timed out"),
        new RuntimeException("job aborted", new java.net.SocketTimeoutException("read timed out")),
        loop)) {
      var writes = 0
      val primary = new graft.sinks.EventSink {
        val name = "p"
        def write(b: org.apache.spark.sql.DataFrame, id: Long): Unit = { writes += 1; throw fail }
      }
      val fallback = new CollectingSink("f")
      val sink = new FailoverSink(primary, fallback,
        new RetryPolicy(1, 2, maxRetries = 3, seed = 1),
        new CircuitBreaker(10, 1000), sleeper = _ => ())
      sink.write(batch, 5L)
      assert(writes === 4 && fallback.batches === Seq(5L), fail.toString)
    }
  }

  /** Run `body` as streaming query `id` would: the fence keys its
    * markers by this local property. */
  private def asQuery[A](id: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", id)
    try body finally sc.setLocalProperty("sql.streaming.queryId", null)
  }

  test("file sink: a replayed batch writes nothing, no duplication") {
    val dir = java.nio.file.Files.createTempDirectory("fenced").toString
    val sink = new ParquetDirSink(dir)
    asQuery("q1") {
      sink.write(batch, 0L)
      sink.write(batch, 1L)
      sink.write(batch, 1L) // replay of batch 1 after an unclean restart
    }
    assert(spark.read.parquet(dir).count() === 4) // 2 rows x 2 distinct batches
    // a fresh checkpoint restarts its batch ids at 0: not a replay
    asQuery("q2")(sink.write(batch, 0L))
    assert(spark.read.parquet(dir).count() === 6)
    // the markers sit under a `_` path; readers list only part files
    val visible = new java.io.File(dir).list().filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(visible.nonEmpty && visible.forall(_.endsWith(".parquet")), visible.mkString(","))
  }

  test("kinesis client sink: ≤500-record calls, only flagged records retried, no dup/loss") {
    MockClients.reset()
    val df = (0 until 1200).map(i => (s"payload-$i".getBytes("UTF-8"), s"key-${i % 16}"))
      .toDF("thrift", "partition_key")
    // every 7th record errors on its first send; the retry must carry
    // ONLY those (reference partial-failure semantics, KinesisSink:157-181)
    val sink = ClientSinks.kinesis("s1",
      () => MockClients.kinesis(failOnceEvery = 7), retries = Retries(sleeper = _ => ()))
    sink.write(df, 0L)
    val calls = MockClients.kinesisCalls
    assert(calls.forall(_.size <= ClientSinks.KinesisMaxPerRequest))
    // retry calls are strictly the failed subsets: total sent = input + failed-once
    val stored = MockClients.kinesisStored
    assert(stored.size === 1200) // exactly once each
    assert(stored.map(r => new String(r.payload, "UTF-8")).toSet ===
      (0 until 1200).map(i => s"payload-$i").toSet)
    // total records across all calls = input + exactly one resend per
    // flagged record — proof the retry carried only the failed subset
    val flagged = (0 until 1200).count(_ % 7 == 0)
    assert(calls.map(_.size).sum === 1200 + flagged)
  }

  test("sqs client sink: ≤10-message batches, base64 bodies, kinesisKey attribute") {
    MockClients.reset()
    val df = (0 until 53).map(i => (s"p$i".getBytes("UTF-8"), s"k$i"))
      .toDF("thrift", "partition_key")
    val sink = ClientSinks.sqs("q1", () => MockClients.sqs(), retries = Retries(sleeper = _ => ()))
    sink.write(df, 0L)
    assert(MockClients.sqsCalls.forall(_.size <= ClientSinks.SqsMaxBatchSize))
    val stored = MockClients.sqsStored
    assert(stored.size === 53)
    val byKey = stored.map(m => m.kinesisKey -> m.body).toMap
    (0 until 53).foreach { i =>
      assert(byKey(s"k$i") ===
        java.util.Base64.getEncoder.encodeToString(s"p$i".getBytes("UTF-8")))
    }
  }

  test("client sink exhaustion throws so the micro-batch replays") {
    MockClients.reset()
    val df = Seq(("x".getBytes("UTF-8"), "k")).toDF("thrift", "partition_key")
    val sink = ClientSinks.kinesis("s1",
      () => MockClients.kinesisAlwaysFailing(), retries = Retries(max = 2, sleeper = _ => ()))
    val e = intercept[Exception](sink.write(df, 0L))
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("still failing")))
  }

  test("kinesis→sqs failover with client sinks: fallback receives the batch") {
    MockClients.reset()
    val df = (0 until 12).map(i => (s"p$i".getBytes("UTF-8"), s"k$i"))
      .toDF("thrift", "partition_key")
    val primary = ClientSinks.kinesis("s1",
      () => MockClients.kinesisAlwaysFailing(), retries = Retries(max = 0, sleeper = _ => ()))
    val fallback = ClientSinks.sqs("q1", () => MockClients.sqs(), retries = Retries(sleeper = _ => ()))
    val sink = new FailoverSink(primary, fallback,
      new RetryPolicy(1, 2, maxRetries = 1, seed = 1),
      new CircuitBreaker(10, 1000), sleeper = _ => ())
    sink.write(df, 9L)
    assert(MockClients.sqsStored.size === 12)
  }

  test("pubsub client sink: batched publish, only flagged messages retried") {
    MockClients.resetExtras()
    val df = (0 until 2100).map(i => Tuple1(s"m-$i".getBytes("UTF-8"))).toDF("thrift")
    val sink = ClientSinks.pubsub("t1",
      () => MockClients.pubsub(failOnceEvery = 5), retries = Retries(sleeper = _ => ()))
    sink.write(df, 0L)
    assert(MockClients.pubsubCalls.forall(_.size <= ClientSinks.PubSubMaxPerRequest))
    assert(MockClients.pubsubStored.size === 2100)
    val flagged = (0 until 2100).count(_ % 5 == 0)
    assert(MockClients.pubsubCalls.map(_.size).sum === 2100 + flagged)
  }

  test("nsq client sink: unkeyed chunked produceMulti; failure replays the batch") {
    MockClients.resetExtras()
    val df = (0 until 1234).map(i => Tuple1(s"n-$i".getBytes("UTF-8"))).toDF("thrift")
    ClientSinks.nsq("t1", () => MockClients.nsq()).write(df, 0L)
    assert(MockClients.nsqCalls.forall(_.size <= 500))
    assert(MockClients.nsqCalls.map(_.size).sum === 1234)
    assertThrows[Exception](
      ClientSinks.nsq("t1", () => MockClients.nsqFailing()).write(df, 1L))
  }

  test("rabbitmq client sink: per-event exponential backoff, bounded attempts") {
    MockClients.resetExtras()
    val df = Seq(Tuple1("r-1".getBytes("UTF-8"))).toDF("thrift")
    val sink = ClientSinks.rabbit("ex",
      () => MockClients.rabbit(failuresPerEvent = 4),
      retries = Retries(ClientSinks.RabbitMaxAttempts - 1,
        ClientSinks.exponentialBackoff(minMs = 100, multiplier = 2.0, maxMs = 300),
        MockClients.recordBackoff))
    sink.write(df, 0L)
    assert(MockClients.rabbitStored.map(new String(_, "UTF-8")) === Seq("r-1"))
    // reference formula: min, then min(mult*current, max), capped
    assert(MockClients.rabbitBackoffs === Seq(100L, 200L, 300L, 300L))
    // poison event: attempts bounded, error propagates for checkpoint replay
    MockClients.resetExtras()
    assertThrows[Exception](ClientSinks.rabbit("ex",
      () => MockClients.rabbit(failuresPerEvent = 100),
      retries = Retries(max = 3 - 1, ClientSinks.exponentialBackoff(100, 2.0, 10000),
        MockClients.recordBackoff)).write(df, 1L))
  }

  test("open breaker skips primary straight to fallback (fast failover R3)") {
    val primary = new CollectingSink("p", failFirst = 100)
    val fallback = new CollectingSink("f")
    val cb = new CircuitBreaker(1, resetMs = 1000000, clock = () => 0L)
    cb.onFailure() // trip it
    val sink = new FailoverSink(primary, fallback,
      new RetryPolicy(1, 2, maxRetries = 5, seed = 1), cb, sleeper = _ => ())
    sink.write(batch, 3L)
    assert(fallback.batches === Seq(3L))
    assert(primary.batches.isEmpty)
  }

  test("sinkFromSettings: the loaded config's numbers drive the runtime sink") {
    import graft.operators.{CollectorConfig, SinkSettings}
    // the reference's example config, straight through the loader
    val cfg = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "gstream", "sink": {
        |  "enabled": "kinesis",
        |  "backoffPolicy": {"minBackoff": 500, "maxBackoff": 1500, "maxRetries": 3}
        |}}}}""".stripMargin)
    // backoff schedule: reference jitter formula, every delay in [min, max]
    val backoff = ClientSinks.backoffSchedule(cfg.sink)
    val delays = (1 to 3).map(backoff)
    assert(delays.forall(d => d >= 500 && d <= 1500), s"schedule out of bounds: $delays")
    // deterministic: same settings → same schedule
    assert((1 to 3).map(ClientSinks.backoffSchedule(cfg.sink)) === delays)
    // maxRetries from config is honored: a client that keeps failing
    // exhausts exactly the configured budget then throws for replay
    // (MockClients' static state is the executor-visible observer)
    MockClients.reset()
    val sink = ClientSinks.sinkFor(
      cfg.sink, Leg.Good, parquetDir = sys.error("unused"),
      clients = Clients(kinesis = Some(() => MockClients.kinesisAlwaysFailing())), sleeper = _ => ())
    assert(sink.name === "kinesis(gstream)") // stream name from streams.good
    import org.apache.spark.sql.functions.{col => c}
    intercept[Exception] {
      sink.write(batch
        .select(c("v").cast("binary").as("thrift"),
          c("id").cast("string").as("partition_key"))
        .coalesce(1), 1L) // one partition → one retry loop to count
    }
    // initial send + exactly the configured 3 retries
    assert(MockClients.kinesisCalls.size === 4,
      s"expected initial + 3 retries, got ${MockClients.kinesisCalls.size}")
  }

  test("real-SDK Kinesis binding: absent SDK is detected at factory time, not mid-batch") {
    import graft.sinks.AwsKinesisClient
    // this sandbox ships no AWS jars — availability must say so honestly
    assert(!AwsKinesisClient.available())
    // and constructing the client without the SDK fails AT THE FACTORY
    // CALL with the class name, never a partial write: the factory shape
    // ClientSinks.kinesis(stream, () => AwsKinesisClient()) means the task
    // dies before any record is attempted
    intercept[ClassNotFoundException] { AwsKinesisClient() }
  }

  test("sqsGoodBuffer pairs Kinesis with an SQS failover (reference production pairing)") {
    import graft.operators.CollectorConfig
    // reference KinesisSink.scala:53,145 — a configured sqsGoodBuffer
    // diverts batches that exhaust Kinesis retries to the buffer queue
    val cfg = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "gstream", "sink": {
        |  "enabled": "kinesis", "region": "eu-central-1",
        |  "sqsGoodBuffer": "sqs-buf", "sqsBadBuffer": "sqs-buf-bad",
        |  "backoffPolicy": {"minBackoff": 1, "maxBackoff": 2, "maxRetries": 1}
        |}}}}""".stripMargin)
    assert(cfg.sink.sqsGoodBuffer === Some("sqs-buf"))
    assert(cfg.sink.sqsBadBuffer === Some("sqs-buf-bad"))
    MockClients.reset()
    val sink = ClientSinks.sinkFor(cfg.sink, Leg.Good, parquetDir = sys.error("unused"),
      clients = Clients(kinesis = Some(() => MockClients.kinesisAlwaysFailing()),
      sqs = Some(() => MockClients.sqs())), sleeper = _ => ())
    assert(sink.name === "failover(kinesis(gstream)->sqs(sqs-buf))")
    val wire = (0 until 23).map(i => (s"p$i".getBytes("UTF-8"), s"k$i"))
      .toDF("thrift", "partition_key")
    sink.write(wire, 5L) // primary exhausts its retry budget → SQS takes all
    assert(MockClients.sqsStored.size === 23)
    assert(MockClients.sqsStored.map(_.kinesisKey).toSet ===
      (0 until 23).map(i => s"k$i").toSet)
    // no buffer configured → the sink is the bare Kinesis leg
    val bare = ClientSinks.sinkFor(
      cfg.sink.copy(sqsGoodBuffer = None), Leg.Good, parquetDir = sys.error("unused"),
      clients = Clients(kinesis = Some(() => MockClients.kinesis(0))), sleeper = _ => ())
    assert(bare.name === "kinesis(gstream)")
  }

  test("pubsub/nsq/rabbitmq sink kinds wire their connection config end-to-end") {
    import graft.operators.CollectorConfig
    MockClients.resetExtras()
    val wire = Seq(Tuple1("w-1".getBytes("UTF-8"))).toDF("thrift")
    // pubsub: the topic path composes googleProjectId + the good stream
    val ps = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "raw-good", "sink": {
        |  "enabled": "google-pub-sub", "googleProjectId": "proj-1"
        |}}}}""".stripMargin).sink
    val psSink = ClientSinks.sinkFor(ps, Leg.Good, sys.error("unused"),
      clients = Clients(pubsub = Some(() => MockClients.pubsub())), sleeper = _ => ())
    assert(psSink.name === "pubsub(projects/proj-1/topics/raw-good)")
    psSink.write(wire, 0L)
    assert(MockClients.pubsubStored.size === 1)
    // nsq: topic from good stream, host/port parsed (factory injected)
    val nq = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "raw", "sink": {
        |  "enabled": "nsq", "host": "nsqHost", "port": 4150
        |}}}}""".stripMargin).sink
    assert(nq.nsqHost === "nsqHost" && nq.nsqPort === 4150)
    val nqSink = ClientSinks.sinkFor(nq, Leg.Good, sys.error("unused"),
      clients = Clients(nsq = Some(() => MockClients.nsq())))
    assert(nqSink.name === "nsq(raw)")
    nqSink.write(wire, 0L)
    assert(MockClients.nsqCalls.map(_.size).sum === 1)
    // rabbitmq: exchange from good stream, the configured routing key
    // rides every publish, backoff multiplier from the config
    val rq = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "raw-ex", "sink": {
        |  "enabled": "rabbitmq", "username": "u1", "password": "p1",
        |  "virtualHost": "/vh", "routingKeyGood": "rk-good",
        |  "backoffPolicy": {"minBackoff": 100, "maxBackoff": 10000, "multiplier": 2}
        |}}}}""".stripMargin).sink
    assert(rq.rabbitUsername === "u1" && rq.rabbitVirtualHost === "/vh")
    val rqSink = ClientSinks.sinkFor(rq, Leg.Good, sys.error("unused"),
      clients = Clients(rabbit = Some(() => MockClients.rabbit())), sleeper = _ => ())
    assert(rqSink.name === "rabbitmq(raw-ex)")
    rqSink.write(wire, 0L)
    assert(MockClients.rabbitPublishes.exists { case (ex, rk) =>
      ex == "raw-ex" && rk == "rk-good" }, "configured routing key must ride the publish")
    // absent the jars, the DEFAULT factories still fail at factory time
    // on the executor with the client class name (the reflection
    // contract); Spark surfaces it wrapped in a task failure
    val err = intercept[Exception] {
      ClientSinks.sinkFor(nq, Leg.Good, sys.error("unused")).write(wire.coalesce(1), 1L)
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(err).exists(_.isInstanceOf[ClassNotFoundException]),
      s"expected a factory-time CNFE in the cause chain, got: $err")
  }

  test("kinesisEndpoint derives the reference's regional endpoints incl. the China partition") {
    import graft.operators.SinkSettings
    // reference model.scala:120-126 verbatim
    val eu = SinkSettings(region = Some("eu-central-1"))
    assert(eu.kinesisEndpoint === "https://kinesis.eu-central-1.amazonaws.com")
    assert(SinkSettings(region = Some("cn-north-1")).kinesisEndpoint ===
      "https://kinesis.cn-north-1.amazonaws.com.cn")
    assert(SinkSettings(region = Some("cn-northwest-1")).kinesisEndpoint ===
      "https://kinesis.cn-northwest-1.amazonaws.com.cn")
    // explicit customEndpoint wins (localstack-style deployments)
    assert(eu.copy(customEndpoint = Some("http://localhost:4566")).kinesisEndpoint ===
      "http://localhost:4566")
    // and the loader lands the key
    val cfg = graft.operators.CollectorConfig.fromJson(
      """{"collector": {"streams": {"sink": {
        |  "enabled": "kinesis", "customEndpoint": "http://localhost:4566"
        |}}}}""".stripMargin)
    assert(cfg.sink.customEndpoint === Some("http://localhost:4566"))
    assert(cfg.sink.kinesisEndpoint === "http://localhost:4566")
  }

  test("aws credentials: sentinel pairs select the reference's provider modes") {
    import graft.sinks.AwsCredentials
    import graft.sinks.AwsCredentials._
    // reference KinesisSink.scala:487-505 verbatim: pairing rules + the
    // exact mismatch messages
    assert(AwsCredentials.mode("default", "default") === Right(DefaultChain))
    assert(AwsCredentials.mode("iam", "iam") === Right(Iam))
    assert(AwsCredentials.mode("env", "env") === Right(Env))
    assert(AwsCredentials.mode("AKIAEXAMPLE", "s3cr3t") ===
      Right(Static("AKIAEXAMPLE", "s3cr3t")))
    assert(AwsCredentials.mode("default", "s") ===
      Left("accessKey and secretKey must both be set to 'default' or neither"))
    assert(AwsCredentials.mode("a", "iam") ===
      Left("accessKey and secretKey must both be set to 'iam' or neither"))
    assert(AwsCredentials.mode("env", "s") ===
      Left("accessKey and secretKey must both be set to 'env' or neither"))
    // each mode names its genuine SDK provider class (the reflection target)
    assert(providerClass(DefaultChain).endsWith(".DefaultCredentialsProvider"))
    assert(providerClass(Iam).endsWith(".InstanceProfileCredentialsProvider"))
    assert(providerClass(Env).endsWith(".EnvironmentVariableCredentialsProvider"))
    assert(providerClass(Static("a", "s")).endsWith(".StaticCredentialsProvider"))
    // and the reflective build targets that class for real: absent SDK
    // surfaces as CNFE naming the provider, proving the path is live
    val cnfe = intercept[ClassNotFoundException] { providerFor(Static("a", "s")) }
    assert(cnfe.getMessage.contains("StaticCredentialsProvider"))
  }

  test("aws credentials: the configured mode reaches the K1/K2 factories at wiring time") {
    import graft.sinks.{AwsCredentials, ClientSinks}
    import graft.operators.SinkSettings
    // production wiring: sdk factories resolve the config's aws block NOW
    val good = SinkSettings(kind = "kinesis", awsAccessKey = "env", awsSecretKey = "env")
    assert(AwsCredentials.modeFor(good) === AwsCredentials.Env)
    val f = ClientSinks.sdkKinesisFactory(good) // resolves; SDK bind deferred
    // invoking the factory binds the SDK — absent here, CNFE at factory
    // time names the kinesis client class (the existing contract)
    intercept[ClassNotFoundException] { f() }
    // a half-set sentinel is a STARTUP error (reference leftMap →
    // IllegalArgumentException), before any executor ever runs
    val bad = SinkSettings(kind = "sqs", awsAccessKey = "iam", awsSecretKey = "nope")
    val err = intercept[IllegalArgumentException] { ClientSinks.sdkSqsFactory(bad) }
    assert(err.getMessage === "accessKey and secretKey must both be set to 'iam' or neither")
    // and sinkFor falls back to the SDK factory when none is
    // injected — the config error still surfaces at wiring
    intercept[IllegalArgumentException] {
      ClientSinks.sinkFor(bad, Leg.Good, "/tmp/unused")
    }
    // explicit static keys resolve to the static mode end-to-end
    val stat = SinkSettings(kind = "sqs", awsAccessKey = "AKIA", awsSecretKey = "sk")
    assert(AwsCredentials.modeFor(stat) === AwsCredentials.Static("AKIA", "sk"))
  }

  test("real-SDK SQS binding: absent SDK is detected at factory time, not mid-batch") {
    import graft.sinks.AwsSqsClient
    // the reference's production pairing is Kinesis + SQS failover
    // (KinesisSink.scala:281-325) — the secondary needs the same honest
    // availability check and fail-fast factory as the primary
    assert(!AwsSqsClient.available())
    intercept[ClassNotFoundException] { AwsSqsClient() }
  }

  test("real-SDK PubSub binding: absent SDK is detected at factory time, not mid-batch") {
    import graft.sinks.GcpPubSubClient
    // reference GooglePubSubSink builds the Publisher at sink init and
    // fails the collector start on a bad build — factory-time is the
    // micro-batch analog of that init failure
    assert(!GcpPubSubClient.available())
    intercept[ClassNotFoundException] { GcpPubSubClient() }
  }

  test("real-SDK NSQ binding: absent client jar is detected at factory time") {
    import graft.sinks.NsqProducerClient
    assert(!NsqProducerClient.available())
    intercept[ClassNotFoundException] { NsqProducerClient("localhost", 4150) }
  }

  test("real-SDK RabbitMQ binding: absent amqp-client is detected at factory time") {
    import graft.sinks.RabbitMqChannelClient
    assert(!RabbitMqChannelClient.available())
    intercept[ClassNotFoundException] {
      RabbitMqChannelClient("localhost", 5672, Some("raw"))
    }
  }

  test("kafka sink dispatch: explicit arm, producer props, failed-subset retry") {
    import graft.operators.CollectorConfig
    import org.apache.spark.sql.functions.{col => c}
    MockClients.resetExtras()
    // r12 (ADVICE): enabled=kafka must dispatch to a Kafka sink, never
    // fall through to parquet
    val cfg = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "raw-topic",
        |  "buffer": {"byteLimit": 3145728, "recordLimit": 500, "timeLimit": 5000},
        |  "sink": {
        |  "enabled": "kafka", "brokers": "b1:9092,b2:9092", "retries": 7,
        |  "kafkaTimeouts": {"maxBlockMs": 111, "requestTimeoutMs": 222,
        |    "deliveryTimeoutMs": 333, "metadataMaxAgeMs": 444},
        |  "producerConf": {"acks": "1", "compression.type": "zstd"},
        |  "backoffPolicy": {"minBackoff": 1, "maxBackoff": 2, "maxRetries": 2}
        |}}}}""".stripMargin)
    // producer props: reference createProducer order — config-derived
    // values first, free-form producerConf overrides LAST
    val props = ClientSinks.kafkaProducerProps(cfg.sink)
    assert(props("bootstrap.servers") === "b1:9092,b2:9092")
    assert(props("retries") === "7")
    assert(props("acks") === "1") // producerConf override wins
    assert(props("compression.type") === "zstd")
    assert(props("buffer.memory") === "3145728" && props("linger.ms") === "5000")
    assert(props("max.block.ms") === "111" && props("request.timeout.ms") === "222")
    assert(props("delivery.timeout.ms") === "333" && props("metadata.max.age.ms") === "444")
    val sink = ClientSinks.sinkFor(cfg.sink, Leg.Good, sys.error("unused"),
      clients = Clients(kafka = Some(() => MockClients.kafka(failOnceEvery = 3))), sleeper = _ => ())
    assert(sink.name === "kafka(raw-topic)")
    val wire = (0 until 9).map(i => (s"p-$i".getBytes("UTF-8"), s"k$i"))
      .toDF("thrift", "partition_key")
    sink.write(wire.coalesce(1), 1L)
    // every record landed exactly once; the ≡0 (mod 3) third failed its
    // first send and was re-sent alone (failed-subset retry)
    assert(MockClients.kafkaStored.size === 9)
    assert(MockClients.kafkaStored.map(r => new String(r.payload, "UTF-8")).toSet ===
      (0 until 9).map(i => s"p-$i").toSet)
    assert(MockClients.kafkaCalls.size === 2)
    assert(MockClients.kafkaCalls(1)._2.size === 3, "retry must carry ONLY the failed subset")
  }

  test("kafka sqs backup block pairs Kafka with an SQS failover (reference backup mode)") {
    import graft.operators.CollectorConfig
    // reference KafkaCollector.scala:62-71 / SQSPublisher.scala:30-70 —
    // events that exhaust Kafka retries divert to the SQS queue pair;
    // golden values from the reference's own shipped
    // kafka/src/test/resources/config.kafka.extended.hocon:31-46
    val file = new java.io.File(
      "/root/reference/kafka/src/test/resources/config.kafka.extended.hocon")
    assume(file.isFile, "reference kafka test config not present")
    val cfg = CollectorConfig.fromHocon(
      new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8"))
    assert(cfg.sink.kind === "kafka")
    assert(cfg.sink.kafkaBrokers === "localhost:9092,another.host:9092")
    val b = cfg.sink.kafkaSqsBackup.getOrElse(fail("sqs backup block not parsed"))
    assert(b.goodQueueUrl === "https://sqs.us-east-1.amazonaws.com/123456789/good-events")
    assert(b.badQueueUrl === "https://sqs.us-east-1.amazonaws.com/123456789/bad-events")
    assert(b.region === Some("us-east-1") && b.maxBufferSize === 50000)
    assert(b.threadPoolSize === 10)
    assert(b.awsAccessKey === "iam" && b.awsSecretKey === "iam")
    assert(b.minBackoffMs === 500 && b.maxBackoffMs === 5000 && b.maxRetries === 5)
  }

  test("kafka sqs backup: Kafka down → all 13 events on the backup queue") {
    import graft.operators.CollectorConfig
    val cfg = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "good", "sink": {
        |  "enabled": "kafka", "brokers": "localhost:9092",
        |  "backoffPolicy": {"minBackoff": 1, "maxBackoff": 2, "maxRetries": 1},
        |  "sqs": {
        |    "goodQueueUrl": "https://sqs.us-east-1.amazonaws.com/123456789/good-events",
        |    "badQueueUrl": "https://sqs.us-east-1.amazonaws.com/123456789/bad-events",
        |    "backoffPolicy": {"minBackoff": 1, "maxBackoff": 2}
        |  }
        |}}}}""".stripMargin)
    MockClients.reset(); MockClients.resetExtras()
    val sink = ClientSinks.sinkFor(cfg.sink, Leg.Good, sys.error("unused"),
      clients = Clients(kafka = Some(() => MockClients.kafkaAlwaysFailing()),
      sqs = Some(() => MockClients.sqs())), sleeper = _ => ())
    assert(sink.name ===
      "failover(kafka(good)->sqs(https://sqs.us-east-1.amazonaws.com/123456789/good-events))")
    val wire = (0 until 13).map(i => (s"p$i".getBytes("UTF-8"), s"k$i"))
      .toDF("thrift", "partition_key")
    sink.write(wire, 5L)
    assert(MockClients.sqsStored.size === 13)
    assert(MockClients.sqsStored.map(_.kinesisKey).toSet ===
      (0 until 13).map(i => s"k$i").toSet)
    // no backup block → the sink is the bare Kafka leg
    MockClients.resetExtras()
    val bare = ClientSinks.sinkFor(cfg.sink.copy(kafkaSqsBackup = None), Leg.Good,
      sys.error("unused"), clients = Clients(kafka = Some(() => MockClients.kafka())), sleeper = _ => ())
    assert(bare.name === "kafka(good)")
    // and the default factory surfaces the absent kafka-clients jar at
    // factory time (the reflection contract)
    import graft.sinks.KafkaProducerClient
    assert(!KafkaProducerClient.available())
    intercept[ClassNotFoundException] {
      KafkaProducerClient(ClientSinks.kafkaProducerProps(cfg.sink))
    }
  }

  test("pubsub builder settings: gcpUserAgent header + RPC-retry knobs reach the factory") {
    import graft.operators.CollectorConfig
    // r12: reference GooglePubSubSink.scala:207-240 — the builder gets
    // FixedHeaderProvider("User-Agent", "<product>/collector
    // (GPN:Snowplow;)") and RetrySettings from backoffPolicy
    val cfg = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "g", "sink": {
        |  "enabled": "google-pub-sub", "googleProjectId": "p",
        |  "gcpUserAgent": {"productName": "Acme Collector"},
        |  "backoffPolicy": {"minBackoff": 100, "maxBackoff": 200,
        |    "totalBackoff": 5000, "multiplier": 1.5,
        |    "initialRpcTimeout": 300, "maxRpcTimeout": 400,
        |    "rpcTimeoutMultiplier": 2.5},
        |  "retryInterval": 7000
        |}}}}""".stripMargin)
    assert(cfg.sink.gcpUserAgentProductName === "Acme Collector")
    val bs = ClientSinks.pubsubBuilderSettings(cfg.sink)
    assert(bs.userAgent === "Acme Collector/collector (GPN:Snowplow;)")
    assert(bs.initialRetryDelayMs === 100 && bs.maxRetryDelayMs === 200)
    assert(bs.retryDelayMultiplier === 1.5 && bs.totalTimeoutMs === 5000)
    assert(bs.initialRpcTimeoutMs === 300 && bs.maxRpcTimeoutMs === 400)
    assert(bs.rpcTimeoutMultiplier === 2.5)
    // default productName is the reference's shipped value
    assert(ClientSinks.pubsubBuilderSettings(
      graft.operators.SinkSettings.defaultsFor("google-pub-sub")).userAgent ===
      "Snowplow OSS/collector (GPN:Snowplow;)")
    // r12: failed publishes retry on the FIXED retryInterval cadence
    // (reference GooglePubSubSink.scala:113-126), never a jitter schedule
    MockClients.resetExtras()
    val sink = ClientSinks.sinkFor(cfg.sink.copy(maxRetries = 3), Leg.Good,
      sys.error("unused"),
      clients = Clients(pubsub = Some(() => MockClients.pubsub(failOnceEvery = 1))),
      sleeper = MockClients.recordBackoff) // static: survives closure serialization
    sink.write(Seq(Tuple1("pi-1".getBytes("UTF-8"))).toDF("thrift").coalesce(1), 0L)
    val sleeps = MockClients.rabbitBackoffs
    assert(sleeps.nonEmpty && sleeps.forall(_ === 7000L),
      s"pubsub retry delay must be the configured retryInterval, got $sleeps")
  }

  test("bad-leg sink dispatch: streams/buffers/routing keys flip, stdout becomes stderr") {
    import graft.operators.CollectorConfig
    // r12: the reference drives BOTH legs from one config (K10) — the
    // bad leg flips to streams.bad, sqsBadBuffer, badQueueUrl,
    // routingKeyBad, and the stdout sink prints to stderr
    val cfg = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "g-str", "bad": "b-str", "sink": {
        |  "enabled": "kinesis", "region": "eu-central-1",
        |  "sqsGoodBuffer": "buf-good", "sqsBadBuffer": "buf-bad",
        |  "backoffPolicy": {"minBackoff": 1, "maxBackoff": 2, "maxRetries": 1}
        |}}}}""".stripMargin)
    MockClients.reset()
    val bad = ClientSinks.sinkFor(cfg.sink, Leg.Bad, sys.error("unused"),
      clients = Clients(kinesis = Some(() => MockClients.kinesisAlwaysFailing()),
      sqs = Some(() => MockClients.sqs())), sleeper = _ => ())
    assert(bad.name === "failover(kinesis(b-str)->sqs(buf-bad))")
    // the bad leg carries the self-describing JSON under its own columns
    val wire = Seq(("{\"bad\":1}".getBytes("UTF-8"), "e-1"))
      .toDF("bad_row_json", "event_id")
    bad.write(wire, 1L)
    assert(MockClients.sqsStored.map(_.kinesisKey) === Seq("e-1"))
    // kafka bad leg pairs with the backup block's badQueueUrl
    val kcfg = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "g", "bad": "b", "sink": {
        |  "enabled": "kafka",
        |  "sqs": {"goodQueueUrl": "q-good", "badQueueUrl": "q-bad",
        |    "backoffPolicy": {"minBackoff": 1, "maxBackoff": 2, "maxRetries": 1}},
        |  "backoffPolicy": {"minBackoff": 1, "maxBackoff": 2, "maxRetries": 1}
        |}}}}""".stripMargin)
    val kbad = ClientSinks.sinkFor(kcfg.sink, Leg.Bad, sys.error("unused"),
      clients = Clients(kafka = Some(() => MockClients.kafkaAlwaysFailing()),
      sqs = Some(() => MockClients.sqs())), sleeper = _ => ())
    assert(kbad.name === "failover(kafka(b)->sqs(q-bad))")
    // rabbit bad leg publishes with routingKeyBad to the bad exchange
    MockClients.resetExtras()
    val rcfg = CollectorConfig.fromJson(
      """{"collector": {"streams": {"good": "raw", "bad": "bad-ex", "sink": {
        |  "enabled": "rabbitmq", "routingKeyGood": "rk-g", "routingKeyBad": "rk-b"
        |}}}}""".stripMargin)
    val rbad = ClientSinks.sinkFor(rcfg.sink, Leg.Bad, sys.error("unused"),
      clients = Clients(rabbit = Some(() => MockClients.rabbit())), sleeper = _ => ())
    rbad.write(wire, 1L)
    assert(MockClients.rabbitPublishes.contains(("bad-ex", "rk-b")))
    // stdout's bad twin is stderr (reference StdoutSink: good->out, bad->err)
    assert(ClientSinks.sinkFor(
      graft.operators.SinkSettings(kind = "stdout"), Leg.Bad, "unused").name === "stderr")
    // and the good-leg names are unchanged by the refactor
    assert(ClientSinks.sinkFor(cfg.sink, Leg.Good, sys.error("unused"),
      clients = Clients(kinesis = Some(() => MockClients.kinesis(0)),
      sqs = Some(() => MockClients.sqs())), sleeper = _ => ())
      .name === "failover(kinesis(g-str)->sqs(buf-good))")
  }

  test("sink startup check polls at startupCheckInterval until the target exists") {
    import graft.sinks.SinkStartupCheck
    import graft.operators.CollectorConfig
    // reference KinesisSink.scala:372-420: describe/getQueueUrl polled
    // every startupCheckInterval; /sink-health 503s until it succeeds
    val cfg = CollectorConfig.fromJson(
      """{"collector": {"streams": {"sink": {
        |  "enabled": "kinesis", "startupCheckInterval": "3 seconds"
        |}}}}""".stripMargin)
    assert(cfg.sink.startupCheckIntervalMs === 3000L)
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val check = new SinkStartupCheck("kinesis", () => {
      calls += 1
      if (calls < 3) throw new RuntimeException("stream CREATING") // probe may throw
      calls >= 4 // then report not-ready once, then ready
    }, cfg.sink.startupCheckIntervalMs, sleeper = sleeps += _)
    assert(!check.healthy)
    assert(graft.streaming.OpsEndpoints.sinkHealth(check.healthy)._1 === 503)
    assert(check.await(maxAttempts = 10))
    assert(check.healthy && calls === 4)
    assert(sleeps.toSeq === Seq(3000L, 3000L, 3000L),
      "every retry must wait exactly the configured startupCheckInterval")
    assert(graft.streaming.OpsEndpoints.sinkHealth(check.healthy)._1 === 200)
    // a target that never appears exhausts the attempt budget, no throw
    val never = new SinkStartupCheck("sqs", () => false, 1L, sleeper = _ => ())
    assert(!never.await(maxAttempts = 5) && !never.healthy)
  }

  test("unknown sink kinds fail loudly at wiring time, never silently parquet") {
    import graft.operators.SinkSettings
    val err = intercept[IllegalArgumentException] {
      ClientSinks.sinkFor(SinkSettings(kind = "kineses"), Leg.Good, "unused")
    }
    assert(err.getMessage.contains("kineses"))
    // the honest kinds still dispatch
    assert(ClientSinks.sinkFor(SinkSettings(kind = "stdout"), Leg.Good, "unused")
      .name === "stdout")
    assert(ClientSinks.sinkFor(SinkSettings(kind = "parquet"), Leg.Good, "/tmp/x")
      .name === "parquet")
  }

  test("client sinks close each partition's client exactly once (clean, retries exhausted, " +
    "send throws) and never send more than the kind's cap") {
    val rows = spark.sparkContext
      .parallelize((0 until 2200).map(i => (s"lc-$i".getBytes("UTF-8"), s"k${i % 8}")), 2)
      .toDF("thrift", "partition_key")
    val quick = Retries(max = 2, sleeper = _ => ())
    // kind, its sink over one probe run's clients, the kind's per-call cap
    val kinds: Seq[(String, MockClients.Probe => ClientSinks.ClientSink[_, _], Int)] = Seq(
      ("kinesis", p => ClientSinks.kinesis("s", () => MockClients.probe(p), retries = quick),
        ClientSinks.KinesisMaxPerRequest),
      ("sqs", p => ClientSinks.sqs("q", () => MockClients.probe(p), retries = quick),
        ClientSinks.SqsMaxBatchSize),
      ("pubsub", p => ClientSinks.pubsub("t", () => MockClients.probe(p), retries = quick),
        ClientSinks.PubSubMaxPerRequest),
      ("kafka", p => ClientSinks.kafka("t", () => MockClients.probe(p), retries = quick),
        ClientSinks.KafkaMaxPerRequest),
      ("nsq", p => ClientSinks.nsq("t", () => MockClients.probe(p)), ClientSinks.NsqMaxPerCall),
      ("rabbitmq", p => ClientSinks.rabbit("ex", () => MockClients.probe(p), retries = quick), 1))
    for ((kind, sinkIn, cap) <- kinds; mode <- Seq("clean", "flag", "throw")) {
      val run = MockClients.newProbe(mode)
      val sink = sinkIn(run)
      if (mode == "clean") sink.write(rows, 0L)
      else intercept[Exception](sink.write(rows, 0L))
      // a failed job can return before its sibling task has closed its client
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (MockClients.probeCloseCounts(run).contains(0) && System.nanoTime() < deadline) Thread.sleep(20)
      val closes = MockClients.probeCloseCounts(run)
      assert(closes.nonEmpty && closes.forall(_ == 1), s"$kind/$mode: close count per client $closes")
      if (mode == "clean") {
        assert(closes.size === 2, s"$kind: one client per partition")
        // 1100 rows per partition: chunks are full up to the cap
        assert(MockClients.probeLargestCall(run) === math.min(cap, 1100), kind)
      } else assert(MockClients.probeLargestCall(run) <= cap, s"$kind/$mode")
    }
  }

  test("one client sink: no foreachPartition under graft/sinks outside ClientSink and Base64StdoutSink") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/sinks")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    val uses = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("foreachPartition") => (p.getFileName.toString, s"$p:${i + 1}: $l")
        }
      }.toList
    // one in ClientSinks.ClientSink, one in Sinks.Base64StdoutSink
    assert(uses.map(_._1).sorted === Seq("ClientSinks.scala", "Sinks.scala"), uses.map(_._2).mkString("\n"))
  }

  test("one file sink: no DataFrameWriter under graft/sinks or in CollectorApp outside ParquetDirSink") {
    import scala.jdk.CollectionConverters._
    val sinks = java.nio.file.Paths.get("src/main/scala/graft/sinks")
    assert(java.nio.file.Files.isDirectory(sinks),
      s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    val files = java.nio.file.Files.walk(sinks).iterator().asScala.filter(_.toString.endsWith(".scala")).toList :+
      java.nio.file.Paths.get("src/main/scala/graft/CollectorApp.scala")
    val writer = """\.write\b(?!\s*\()""".r // `.write` the DataFrameWriter, not `sink.write(...)`
    val outside = files.flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
      // ParquetDirSink's body: from its declaration to the next top-level `}`
      val from = lines.indexWhere(_.startsWith("final class ParquetDirSink"))
      val to = if (from < 0) -1 else lines.indexWhere(_ == "}", from)
      def inSink(i: Int) = from >= 0 && i > from && i < to
      lines.zipWithIndex.collect {
        case (l, i) if writer.findFirstIn(l).isDefined && !inSink(i) => s"$p:${i + 1}: $l"
      }
    }
    assert(outside.isEmpty, outside.mkString("\n"))
  }
}
