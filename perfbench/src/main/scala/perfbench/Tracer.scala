package perfbench

import graft.operators.{CollectorPipeline, ThriftPayload}
import graft.sinks.EventSink
import graft.streaming.HttpEdge
import org.apache.spark.sql.{DataFrame, SparkSession}
import perfbench.Main._

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The traced run's recorders: a `SparkListener` for jobs and tasks, the
  * sink decorators, spans, and JVM GC/heap readings over the window. The
  * per-layer metrics are computed from these after the run. */
final class Tracer(spark: SparkSession) {
  val spans = new SpanLog
  val jobs = new JobListener
  spark.sparkContext.addSparkListener(jobs)
  private val traced = ArrayBuffer.empty[TracedSink]
  private var gc0 = 0L
  private var gcWindow = 0L
  private var heapPeakMb = 0.0

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def wrap(s: EventSink, leg: String): TracedSink = synchronized {
    val t = new TracedSink(s, leg, spans); traced += t; t
  }

  def open(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
    jobs.open(Clock.nowMs)
  }

  def close(): Unit = {
    jobs.closeMs = Clock.nowMs
    gcWindow = gcMs - gc0
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Merged length of a set of intervals. */
  private def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse
  private def len(iv: Seq[(Double, Double)]): Double = iv.map(x => x._2 - x._1).sum
  private def overlap(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double =
    (for (x <- a; y <- b) yield math.max(0.0, math.min(x._2, y._2) - math.max(x._1, y._1))).sum

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-request cost of `f`, in process: the median over five passes. */
  private def perRequestNs[A](xs: Seq[A])(f: A => Any): Double = {
    var sink = 0
    val passes = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      xs.foreach(x => sink += f(x).hashCode)
      (System.nanoTime() - t0).toDouble / xs.size
    }
    if (sink == 42) println("")
    median(passes)
  }

  /** Wall time of materializing `df` (noop sink), median of three. */
  private def materializeMs(df: => DataFrame): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  })

  def report(reqs: Array[GenRequest], res: LoadResult, edge: EdgeSnapshot, flusher: Flusher,
      dirs: Dirs, queryId: String, openMs: Double, progress: ProgressLog, exp: Expected,
      check: SinkCheck, fileBatch: Map[String, Long]): Seq[(String, M)] = {
    val out = ArrayBuffer.empty[(String, M)]
    def put(k: String, v: Double, unit: String, n: Long = 1): Unit = out += k -> M(v, unit, n)
    val cfg = Main.cfg
    val closeMs = jobs.closeMs

    // loadgen
    val lag = (0 until res.n).map(i => (res.sent(i) - res.sched(i)) / 1e6)
    put("loadgen.sent", res.n, "count")
    put("loadgen.lag_p50_ms", pct(lag, 0.5), "ms", res.n)
    put("loadgen.lag_p99_ms", pct(lag, 0.99), "ms", res.n)
    (0 until res.n).foreach { i =>
      val end = if (res.done(i) > 0) res.done(i) else res.sent(i)
      spans.add(Span("loadgen.request", s"r${reqs(i).seq}", null,
        Clock.epochMs(res.sched(i)), Clock.epochMs(end), reqs(i).seq.toString))
    }

    // edge
    val total = edge.counts.values.sum
    put("edge.requests", total, "count")
    put("edge.status_5xx", edge.counts.collect { case ((_, s), v) if s >= 500 => v }.sum, "count")
    for (m <- Seq("GET", "POST")) {
      val c = edge.counts.collect { case ((mm, _), v) if mm == m => v }.sum
      put(s"edge.handle_us_mean.$m", if (c == 0) 0.0 else edge.micros.getOrElse(m, 0L).toDouble / c,
        "us", c)
    }
    val clientUs = (0 until res.n).filter(res.ok).map(i => (res.done(i) - res.sent(i)) / 1e3)
    put("edge.wait_us_mean",
      mean(clientUs) - (if (total == 0) 0.0 else edge.micros.values.sum.toDouble / total), "us",
      clientUs.size)
    val edgeReqs = reqs.toSeq.zipWithIndex.map { case (g, i) => g.edgeRequest(i + 1L, 1700000000000L) }
    put("edge.respond_ns", perRequestNs(edgeReqs)(r => HttpEdge.respond(r, cfg)), "ns", edgeReqs.size)
    put("edge.envelope_ns", perRequestNs(edgeReqs)(r => HttpEdge.envelopeJson(r, cfg)), "ns",
      edgeReqs.size)

    // spool
    val files = Spool.partFiles(dirs.spool)
    put("spool.files", files.size, "count")
    put("spool.bytes", files.map(Files.size).sum.toDouble, "bytes")
    val flushes = flusher.flushMs.asScala.toSeq.filter(_._1 >= openMs)
    flushes.zipWithIndex.foreach { case ((s, e), i) => spans.add(Span("spool.flush", s"f$i", null, s, e, "")) }
    put("spool.flush_ms_p99", pct(flushes.map(f => f._2 - f._1), 0.99), "ms", flushes.size)
    // published (file mtime) until the batch that read it ends
    val edges = files.flatMap { f =>
      val pub = Files.getLastModifiedTime(f).toMillis.toDouble
      val end = fileBatch.get(f.getFileName.toString).flatMap(progress.batches(queryId).get)
        .map(_.endMs).getOrElse(Double.MaxValue)
      Seq((pub, 1), (end, -1))
    }.sortBy(x => (x._1, x._2))
    put("spool.backlog_files_max", edges.scanLeft(0)(_ + _._2).max, "count")

    // batches of the window, with their jobs and sink writes
    val batches = progress.batches(queryId).values.toSeq
      .filter(b => b.endMs > openMs && b.startMs <= closeMs).sortBy(_.startMs)
    val jobsBy = jobs.finished.groupBy(j => s"${j.queryId}/${j.batchId}")
    val sinkSpans = spans.all.filter(_.name.startsWith("sink.")).filter(_.startMs >= openMs)
    val sinkBy = sinkSpans.groupBy(_.parent)
    case class Parts(trigger: Double, source: Double, jobs: Double, sinkSelf: Double,
        named: Double, gap: Double, nJobs: Int, nTasks: Long)
    val parts = batches.map { b =>
      val d = b.durations.withDefaultValue(0L)
      val js = jobsBy.getOrElse(b.key, Nil)
      val jobIv = union(js.map(j => (math.max(j.startMs, b.startMs), math.min(j.endMs, b.endMs))))
      val sinkIv = union(sinkBy.getOrElse(b.key, Nil).map(s => (s.startMs, s.endMs)))
      val jobsMs = len(jobIv)
      val source = (d("latestOffset") + d("getBatch")).toDouble
      spans.add(Span("batch", b.key, null, b.startMs, b.endMs, b.key))
      spans.add(Span("source.latestOffset", s"${b.key}/latestOffset", b.key, b.startMs,
        b.startMs + d("latestOffset"), b.key))
      spans.add(Span("source.getBatch", s"${b.key}/getBatch", b.key, b.startMs + d("latestOffset"),
        b.startMs + source, b.key))
      js.foreach(j => spans.add(Span("spark.job", s"job${j.jobId}", b.key, j.startMs, j.endMs, b.key)))
      Parts(b.triggerMs.toDouble, source, jobsMs, len(sinkIv) - overlap(sinkIv, jobIv),
        (d("walCommit") + d("queryPlanning") + d("commitOffsets")).toDouble,
        b.triggerMs - jobsMs, js.size, js.map(_.tasks.get).sum)
    }
    def p50(f: Parts => Double) = pct(parts.map(f), 0.5)
    def dur(k: String) = pct(batches.map(_.durations.getOrElse(k, 0L).toDouble), 0.5)
    put("source.latestOffset_ms_p50", dur("latestOffset"), "ms", batches.size)
    put("source.getBatch_ms_p50", dur("getBatch"), "ms", batches.size)
    put("batch.count", batches.size, "count")
    put("batch.rows_p50", pct(batches.map(_.rows.toDouble), 0.5), "rows", batches.size)
    put("batch.trigger_ms_p50", p50(_.trigger), "ms", batches.size)
    put("batch.trigger_ms_p99", pct(parts.map(_.trigger), 0.99), "ms", batches.size)
    put("batch.addBatch_ms_p50", dur("addBatch"), "ms", batches.size)
    put("batch.walCommit_ms_p50", dur("walCommit"), "ms", batches.size)
    put("batch.queryPlanning_ms_p50", dur("queryPlanning"), "ms", batches.size)
    put("batch.jobs_per_batch", mean(parts.map(_.nJobs.toDouble)), "count", batches.size)
    put("batch.tasks_per_batch", mean(parts.map(_.nTasks.toDouble)), "count", batches.size)
    put("batch.driver_gap_ms", p50(_.gap), "ms", batches.size)
    put("batch.self.source_ms_p50", p50(_.source), "ms", batches.size)
    put("batch.self.jobs_ms_p50", p50(_.jobs), "ms", batches.size)
    put("batch.self.sink_ms_p50", p50(_.sinkSelf), "ms", batches.size)
    put("batch.self.commit_plan_ms_p50", p50(_.named), "ms", batches.size)
    put("batch.unattributed_ms_p50",
      p50(p => p.trigger - p.source - p.jobs - p.sinkSelf - p.named), "ms", batches.size)

    // pipeline, materialized over the run's spooled envelopes
    val env = exp.env
    put("pipeline.payloads_ms", materializeMs(CollectorPipeline.payloads(env, cfg)), "ms", 3)
    val payloads = CollectorPipeline.payloads(env, cfg).cache()
    payloads.count()
    put("pipeline.encode_ms", materializeMs(ThriftPayload.encode(payloads).toDF()), "ms", 3)
    payloads.unpersist()
    put("pipeline.badRows_ms", materializeMs(CollectorPipeline.badRows(env, cfg)), "ms", 3)
    val c = check
    put("pipeline.envelopes", c.envelopes, "count")
    put("pipeline.good_rows", c.good, "count")
    put("pipeline.bad_generic_rows", c.badGeneric, "count")
    put("pipeline.bad_size_rows", c.badSize, "count")
    put("pipeline.suppressed_rows", c.suppressed, "count")
    put("pipeline.good_ratio", c.good.toDouble / math.max(1L, c.envelopes), "ratio")
    put("spark.jobs", jobs.jobs.size, "count")
    put("spark.tasks", jobs.taskCount.get, "count")
    put("spark.executor_cpu_ms", jobs.cpuNs.get / 1e6, "ms")
    put("spark.executor_run_ms", jobs.runMs.get, "ms")
    put("spark.gc_ms", jobs.gcMs.get, "ms")
    put("spark.shuffle_write_bytes", jobs.shuffleWriteBytes.get, "bytes")

    // sinks
    val good = sinkSpans.filter(_.name == "sink.good").map(_.durMs)
    val bad = sinkSpans.filter(_.name == "sink.bad").map(_.durMs)
    val (nFiles, nBytes) = parquetStats(dirs.sinkDirs)
    put("sink.good_write_ms_p50", pct(good, 0.5), "ms", good.size)
    put("sink.bad_write_ms_p50", pct(bad, 0.5), "ms", bad.size)
    put("sink.good_rows", c.good, "count")
    put("sink.bad_rows", c.badSize + c.badGeneric, "count")
    put("sink.files", nFiles, "count")
    put("sink.bytes", nBytes, "bytes")
    put("sink.fallback_rows", c.fallback, "count")
    put("sink.write_failures", traced.map(_.failures.get).sum, "count")

    // jvm
    put("jvm.gc_ms", gcWindow, "ms")
    put("jvm.heap_peak_mb", heapPeakMb, "MB")
    out.toSeq
  }
}
