package perfbench

import graft.sinks.EventSink
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** A finished span. Times are epoch milliseconds with a fractional part;
  * `ref` is the request seq or the batch key the span belongs to. */
final case class Span(name: String, id: String, parent: String,
    startMs: Double, endMs: Double, ref: String) {
  def durMs: Double = endMs - startMs
  def json: String =
    s"""{"name":"$name","id":"$id","parent":${if (parent == null) "null" else "\"" + parent + "\""},""" +
      f""""start_ms":$startMs%.3f,"end_ms":$endMs%.3f,"ref":"$ref"}"""
}

/** Spans are kept in memory and written out once, at the end of the run. */
final class SpanLog {
  private val q = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = q.add(s)
  def all: Seq[Span] = q.asScala.toSeq
  def write(path: java.nio.file.Path): Int = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s => w.write(s.json); w.newLine() } finally w.close()
    all.size
  }
}

object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** `System.nanoTime` reading → epoch milliseconds. */
  def epochMs(nanos: Long): Double = anchorMs + (nanos - anchorNs) / 1e6
  def nowMs: Double = epochMs(System.nanoTime())
}

/** One committed micro-batch as its `StreamingQueryProgress` reports it. */
final case class BatchInfo(queryId: String, batchId: Long, startMs: Double,
    durations: Map[String, Long], rows: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Double = startMs + triggerMs
  def key: String = s"$queryId/$batchId"
}

/** Progress of every micro-batch of every query, keyed by query id. Both
  * run kinds need it: freshness ends at the batch's end. */
final class ProgressLog extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[String, ConcurrentHashMap[Long, BatchInfo]]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    // idle progress reports (no data) reuse a batch id; keep executed batches only
    if (!p.durationMs.containsKey("addBatch")) return
    val info = BatchInfo(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows)
    byQuery.computeIfAbsent(info.queryId, _ => new ConcurrentHashMap[Long, BatchInfo]())
      .put(info.batchId, info)
  }
  def batches(queryId: String): Map[Long, BatchInfo] =
    Option(byQuery.get(queryId)).map(_.asScala.toMap).getOrElse(Map.empty)

  /** Wait (bounded) until progress for every id in `batchIds` arrived:
    * listener events are delivered asynchronously. */
  def await(queryId: String, batchIds: Set[Long], timeoutMs: Long = 20000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!batchIds.subsetOf(batches(queryId).keySet) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    batchIds.subsetOf(batches(queryId).keySet)
  }
}

/** One Spark job, with the totals of its tasks. */
final class JobInfo(val jobId: Int, val startMs: Double, val queryId: String,
    val batchId: Long) {
  @volatile var endMs: Double = Double.NaN
  val tasks = new java.util.concurrent.atomic.AtomicLong
}

/** Spark jobs submitted inside the window [openMs, closeMs], and the task
  * totals of those jobs. Streaming jobs carry their query id and batch id
  * as job properties. */
final class JobListener extends SparkListener {
  @volatile var openMs = Double.MaxValue
  @volatile var closeMs = Double.MaxValue
  val jobs = new ConcurrentHashMap[Int, JobInfo]()

  /** Start a new window: forget earlier jobs and totals. */
  def open(at: Double): Unit = {
    jobs.clear(); stageToJob.clear()
    Seq(taskCount, cpuNs, runMs, gcMs, shuffleWriteBytes).foreach(_.set(0))
    closeMs = Double.MaxValue
    openMs = at
  }
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  val taskCount = new java.util.concurrent.atomic.AtomicLong
  val cpuNs = new java.util.concurrent.atomic.AtomicLong
  val runMs = new java.util.concurrent.atomic.AtomicLong
  val gcMs = new java.util.concurrent.atomic.AtomicLong
  val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.time >= openMs && e.time <= closeMs) {
    val props = Option(e.properties)
    val q = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).orNull
    val b = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobInfo(e.jobId, e.time.toDouble, q, b))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.tasks.incrementAndGet()
      taskCount.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  def finished: Seq[JobInfo] = jobs.values.asScala.filter(j => !j.endMs.isNaN).toSeq
}

/** Span-recording decorator around an [[EventSink]]. Its spans are
  * parented to the batch `queryId/batchId` (the query id is set once the
  * query has started); a failed write is counted and rethrown. */
final class TracedSink(inner: EventSink, val leg: String, spans: SpanLog) extends EventSink {
  val failures = new java.util.concurrent.atomic.AtomicLong
  @volatile var queryId: String = "unstarted"
  def name: String = inner.name
  override def healthy: Boolean = inner.healthy
  def write(batch: DataFrame, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    try inner.write(batch, batchId)
    catch { case e: Throwable => failures.incrementAndGet(); throw e }
    finally spans.add(Span(s"sink.$leg", s"sink-$queryId-$batchId-$leg",
      s"$queryId/$batchId", Clock.epochMs(t0), Clock.nowMs, s"$queryId/$batchId"))
  }
}
