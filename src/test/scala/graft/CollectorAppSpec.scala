package graft

import graft.operators.{CollectorConfig, CollectorPipeline, ThriftPayload}
import graft.sinks.ParquetDirSink
import graft.sources.EventEnvelopeAdapter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end: envelope stream → assembled dataflow → wire-format good
  * output + bad rows, with health green afterwards. */
class CollectorAppSpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark

  /** Payloads the size gate bad-rows (serialized size >= maxBytes). */
  private def sizeViolations(env: DataFrame, cfg: CollectorConfig): Long =
    CollectorPipeline.badRows(env, cfg).filter(col("bad_row_type") === "SizeViolation").count()

  test("assembled collector app processes the full envelope stream") {
    val cfg = CollectorConfig.testScale
    val envBatch = EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf)
    val srcDir = Files.createTempDirectory("app-src").toString
    envBatch.write.mode("overwrite").parquet(srcDir)

    val goodDir = Files.createTempDirectory("app-good").toString
    val fbDir = Files.createTempDirectory("app-fb").toString
    val badDir = Files.createTempDirectory("app-bad").toString
    val ckpt = Files.createTempDirectory("app-ckpt").toString

    val running = CollectorApp.start(
      spark,
      spark.readStream.schema(envBatch.schema)
        .option("maxFilesPerTrigger", "2") // force multiple micro-batches
        .parquet(srcDir),
      cfg,
      goodSink = CollectorApp.defaultGoodSink(goodDir, fbDir),
      badSink = new ParquetDirSink(badDir, "bad"),
      checkpointDir = ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    running.query.awaitTermination(120000)
    Thread.sleep(500) // listener delivery

    val good = spark.read.parquet(goodDir)
    // good wire = payloads minus the size-gated (reference `SplitBatch
    // .scala:87`: only events whose serialized size fits are sunk whole)
    val payloadCount = CollectorPipeline.payloads(envBatch, cfg).count()
    val oversized = sizeViolations(envBatch, cfg)
    assert(good.count() === payloadCount - oversized)
    assert(oversized > 0) // the gate is exercised at testScale
    def ids(df: DataFrame) = df.select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids(good) === ids(CollectorPipeline.goodLeg(CollectorPipeline.route(envBatch, cfg))))
    // no record on the good wire exceeds the cap — the sink contract
    assert(good.filter(org.apache.spark.sql.functions.octet_length(
      org.apache.spark.sql.functions.col("thrift")) >= cfg.maxBytes).count() === 0)
    // wire rows decode back to the expected thrift record
    val sample = good.limit(1).collect().head
    val decoded = ThriftPayload.deserialize(sample.getAs[Array[Byte]]("thrift"))
    assert(decoded.collector === cfg.collectorName)
    assert(decoded.encoding === "UTF-8")

    val bad = spark.read.parquet(badDir)
    val expectedBad = CollectorPipeline.badRows(envBatch, cfg)
    assert(bad.count() === expectedBad.count())
    assert(ids(bad) === ids(expectedBad))
    assert(bad.select("bad_row_type").distinct().count() === 2)

    assert(running.monitor.healthy)
    assert(running.monitor.snapshot.contains("graft-collector"))
  }

  test("CollectorMain wiring runs the dataflow from a directory of envelope files") {
    val envBatch = EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf)
    val srcDir = Files.createTempDirectory("main-src").toString
    envBatch.write.mode("overwrite").parquet(srcDir)
    val goodDir = Files.createTempDirectory("main-good").toString
    val badDir = Files.createTempDirectory("main-bad").toString
    val ckpt = Files.createTempDirectory("main-ckpt").toString
    val running = CollectorMain.wire(spark, srcDir, goodDir, badDir, ckpt,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    running.query.awaitTermination(120000)
    val cfg = CollectorConfig.testScale
    val expectedGood =
      CollectorPipeline.payloads(envBatch, cfg).count() - sizeViolations(envBatch, cfg)
    assert(spark.read.parquet(goodDir).count() === expectedGood)
    assert(spark.read.parquet(badDir).count() ===
      CollectorPipeline.badRows(envBatch, cfg).count())
  }

  test("CollectorMain: a trailing --config with no path fails with the usage line") {
    val d = Files.createTempDirectory("main-args").toString
    val e = intercept[IllegalArgumentException] {
      CollectorMain.main(Array(s"$d/env", s"$d/good", s"$d/bad", s"$d/ckpt", "--config"))
    }
    assert(e.getMessage.contains("usage: CollectorMain"), e.getMessage)
  }

  test("app wired to the kinesis client sink delivers every good wire record") {
    // the production wiring with the client-backed kinesis sink: the
    // mock wire client receives exactly the size-gated good records with
    // their partition keys
    import graft.sinks.ClientSinks
    MockClients.reset()
    val cfg = CollectorConfig.testScale
    val envBatch = EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf)
    val srcDir = Files.createTempDirectory("appk-src").toString
    envBatch.write.mode("overwrite").parquet(srcDir)
    val badDir = Files.createTempDirectory("appk-bad").toString
    val ckpt = Files.createTempDirectory("appk-ckpt").toString
    val running = CollectorApp.start(
      spark,
      spark.readStream.schema(envBatch.schema).parquet(srcDir),
      cfg,
      goodSink = ClientSinks.kinesis("events", () => MockClients.kinesis(0)),
      badSink = new ParquetDirSink(badDir, "bad"),
      checkpointDir = ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    running.query.awaitTermination(120000)
    val expected =
      CollectorPipeline.payloads(envBatch, cfg).count() - sizeViolations(envBatch, cfg)
    val stored = MockClients.kinesisStored
    assert(stored.size.toLong === expected)
    // every stored record decodes and carries its row's partition key
    val decoded = ThriftPayload.deserialize(stored.head.payload)
    assert(decoded.collector === cfg.collectorName)
    assert(stored.forall(_.key.nonEmpty))
  }

  test("start/stop cycles on one session leave no monitor listener behind; " +
    "each monitor keeps its own query's last state") {
    val envBatch = EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf).limit(50)
    val srcDir = Files.createTempDirectory("cycle-src").toString
    envBatch.write.mode("overwrite").parquet(srcDir)
    def dir(p: String) = Files.createTempDirectory(p).toString
    val before = spark.streams.listListeners().length
    val monitors = (1 to 3).map { _ =>
      val running = CollectorApp.start(
        spark,
        spark.readStream.schema(envBatch.schema).parquet(srcDir),
        CollectorConfig.testScale,
        goodSink = new ParquetDirSink(dir("cycle-good"), "good"),
        badSink = new ParquetDirSink(dir("cycle-bad"), "bad"),
        checkpointDir = dir("cycle-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      running.query.stop()
      org.apache.spark.SparkTestAccess.drainListeners(spark.sparkContext)
      running.monitor
    }
    assert(spark.streams.listListeners().length === before)
    monitors.foreach { m =>
      val last = m.snapshot
      assert(last.keySet === Set("graft-collector"))
      assert(!last("graft-collector").alive && m.healthy)
    }
  }

  test("a collector micro-batch runs two jobs, the good and the bad write, and its " +
    "streaming plan holds no exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val envBatch = EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf)
    val srcDir = Files.createTempDirectory("budget-src").toString
    envBatch.write.mode("overwrite").parquet(srcDir)
    def dir(p: String) = Files.createTempDirectory(p).toString
    val jobs = new JobStarts(spark.sparkContext)
    try {
      val running = CollectorApp.start(
        spark,
        spark.readStream.schema(envBatch.schema).parquet(srcDir),
        CollectorConfig.testScale,
        goodSink = new ParquetDirSink(dir("budget-good"), "good"),
        badSink = new ParquetDirSink(dir("budget-bad"), "bad"),
        checkpointDir = dir("budget-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      running.query.awaitTermination(120000)
      val id = running.query.id.toString
      val perBatch = jobs.where("sql.streaming.queryId", _ == id)
        .groupBy { case (_, p) => p.getProperty("streaming.sql.batchId") }
        .map { case (batch, starts) => batch -> starts.size }
      assert(perBatch.nonEmpty)
      assert(perBatch.values.forall(_ == 2), s"jobs per batch: $perBatch")
      val plan = running.query.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(plan.collect { case m: MapPartitionsExec => m }.size === 1, plan.treeString)
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.treeString)
    } finally jobs.close()
  }

  test("a spool micro-batch runs one task per leg when small and full width for a backlog") {
    import graft.streaming.{EdgeRequest, HttpEdge, SpoolSourceProvider}
    val cfg = CollectorConfig.testScale
    val width = spark.sparkContext.defaultParallelism
    val openCost = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.openCostInBytes"))
    def dir(p: String) = Files.createTempDirectory(p).toString
    def pixel(id: Long, body: Option[String]) = EdgeRequest(id, 1700000000000L, "GET",
      s"/i?e=pv&n=$id", body, None, Some("UA/1.0"), None, "c.example.com", Some("10.0.0.1"),
      None, None, Map("sp" -> s"sp-$id"), Seq("Host: c.example.com"))
    /** Tasks of each job the collector query ran over a spool of `files`. */
    def tasksPerJob(files: Seq[Seq[EdgeRequest]]): Seq[Int] = {
      val spool = dir("tasks-spool")
      files.zipWithIndex.foreach { case (reqs, i) =>
        Files.write(java.nio.file.Paths.get(spool, f"part-$i%05d.jsonl"),
          reqs.map(HttpEdge.envelopeJson(_, cfg)).mkString("", "\n", "\n").getBytes("UTF-8"))
      }
      val jobs = new JobStarts(spark.sparkContext)
      try {
        val running = CollectorApp.start(spark,
          spark.readStream.format(classOf[SpoolSourceProvider].getName)
            .option("edge", "none").load(spool),
          cfg, new ParquetDirSink(dir("tasks-good"), "good"), new ParquetDirSink(dir("tasks-bad"), "bad"),
          dir("tasks-ckpt"), org.apache.spark.sql.streaming.Trigger.AvailableNow())
        running.query.awaitTermination(120000)
        jobs.tasksWhere("sql.streaming.queryId", _ == running.query.id.toString)
      } finally jobs.close()
    }
    // three small files, one scan partition each: one task per leg
    val small = tasksPerJob((0 until 3).map(f => (0 until 50).map(i => pixel(f * 50L + i, None))))
    assert(small === Seq(1, 1), s"tasks per job: $small")
    // a backlog of width × openCostInBytes keeps the session's width
    val body = Some("b" * (openCost / 4).toInt)
    val backlog = tasksPerJob((0 until 4 * width).map(f => Seq(pixel(f.toLong, body))))
    assert(backlog === Seq(width, width), s"tasks per job: $backlog")
  }
}
