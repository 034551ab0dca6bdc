package graft.streaming

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryManager}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One query's latest progress snapshot. `durationMs` is that progress's
  * per-phase breakdown of its trigger (triggerExecution, latestOffset,
  * getBatch, queryPlanning, walCommit, addBatch, commitOffsets). */
final case class QueryHealth(
    name: String,
    batchId: Long,
    numInputRows: Long,
    processedRowsPerSecond: Double,
    alive: Boolean,
    error: Option[String],
    durationMs: Map[String, Long] = Map.empty)

/** R5/R9: health + metrics via `StreamingQueryListener` — the engine
  * analog of the reference's background sink health checks
  * (`KinesisSink.scala:372-420`) and StatsD registry
  * (`Collector.scala:138-160`). The collector polls its sinks; Spark
  * pushes progress events, so health is a fold over the event stream:
  * a query is healthy while it has no terminal exception. A metrics
  * exporter (StatsD etc.) would subscribe to the same snapshots.
  */
final class PipelineMonitor extends StreamingQueryListener {

  private val state = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, QueryHealth]()

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    state.put(e.id, QueryHealth(Option(e.name).getOrElse(e.id.toString), -1, 0, 0.0, alive = true, None))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    state.put(p.id, QueryHealth(
      Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
      p.processedRowsPerSecond, alive = true, None,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    val prev = Option(state.get(e.id))
    state.put(e.id, prev.getOrElse(
      QueryHealth(e.id.toString, -1, 0, 0.0, alive = false, None))
      .copy(alive = false, error = e.exception))
    owner.foreach { case (streams, id) => if (id == e.id) streams.removeListener(this) }
  }

  @volatile private var owner: Option[(StreamingQueryManager, java.util.UUID)] = None

  /** Remove this monitor from `streams` once query `id` has terminated,
    * so a stopped query's monitor stops folding later queries' events;
    * [[snapshot]] and [[healthy]] keep reporting that query's last state. */
  def detachAfter(streams: StreamingQueryManager, id: java.util.UUID): Unit = {
    owner = Some((streams, id))
    if (Option(state.get(id)).exists(!_.alive)) streams.removeListener(this)
  }

  /** Snapshot for a health endpoint / metrics export. */
  def snapshot: Map[String, QueryHealth] = {
    import scala.jdk.CollectionConverters._
    state.asScala.values.map(q => q.name -> q).toMap
  }

  @volatile private var shuttingDown = false
  @volatile private var markedUnhealthy = false

  /** The SIGTERM health-flip (reference `Collector.scala:211-214`): a
    * shutdown request marks the monitor draining IMMEDIATELY — before any
    * query stops. Whether `/health` ALSO flips to 503 during the drain is
    * the reference's opt-in `preTerminationUnhealthy` (model.scala:251,
    * reference.conf:5, default false): an upstream LB that watches
    * /health drains traffic during the pre-termination window only when
    * the deployment asks for it. The no-arg overload keeps the explicit
    * operator flip (health down now). */
  def requestShutdown(): Unit = requestShutdown(markUnhealthy = true)
  def requestShutdown(markUnhealthy: Boolean): Unit = {
    shuttingDown = true
    if (markUnhealthy) markedUnhealthy = true
  }
  def isShuttingDown: Boolean = shuttingDown

  /** The `/health` semantic: not flipped unhealthy for a drain, and no
    * tracked query died with an exception. A shutdown request WITHOUT
    * `preTerminationUnhealthy` keeps /health at 200 while draining —
    * reference `Collector.scala:211-216` only calls `health.toUnhealthy()`
    * inside the `if (preTerminationUnhealthy)` arm. */
  def healthy: Boolean = {
    import scala.jdk.CollectionConverters._
    !markedUnhealthy && state.asScala.values.forall(q => q.error.isEmpty)
  }
}

/** R6 + the reference's two-phase termination (`Collector.scala:206-233`):
  * (1) optionally flip health (the `preTerminationUnhealthy` arm), (2)
  * sleep `preTerminationPeriod` — the traffic-drain window, distinct from
  * (3) the stop phase, which the reference bounds by the coordinated-
  * shutdown `terminationDeadline` (awaited at 2x, Collector.scala:219-220).
  * R10 conflated the two durations (terminationDeadline WAS the sleep);
  * r11 wires both. Checkpointing makes any in-flight micro-batch
  * replayable, so the data-loss half is already covered; this models the
  * traffic-drain half. `sleeper` injected for tests. */
object GracefulShutdown {
  def stop(
      monitor: PipelineMonitor,
      queries: Seq[org.apache.spark.sql.streaming.StreamingQuery],
      preTerminationMillis: Long = 0L,
      preTerminationUnhealthy: Boolean = false,
      terminationDeadlineMs: Long = 10000L,
      sleeper: Long => Unit = Thread.sleep): Unit = {
    monitor.requestShutdown(markUnhealthy = preTerminationUnhealthy)
    if (preTerminationMillis > 0) sleeper(preTerminationMillis)
    // r12 (ADVICE): stop ALL queries first (stop() is async — it signals
    // the stream execution thread), then await each against ONE shared
    // 2x-deadline budget, so worst-case shutdown is 2x·deadline total —
    // the reference awaits the whole system once at 2x
    // (Collector.scala:219-220), independent of query count — not
    // N·2x·deadline as the r11 sequential loop allowed.
    val stopped = queries.filter { q =>
      try { q.stop(); true }
      catch {
        // reference log-and-continues on termination failure
        // (Collector.scala:222-224); a failed query's exception re-
        // surfaces through the monitor's health, not the shutdown path
        case scala.util.control.NonFatal(_) => false
      }
    }
    val deadline = System.nanoTime() + terminationDeadlineMs * 2 * 1000000L
    stopped.foreach { q =>
      try {
        val leftMs = math.max((deadline - System.nanoTime()) / 1000000L, 1L)
        q.awaitTermination(leftMs)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}

/** R9: metrics export — snapshot → StatsD line protocol (what the
  * reference's pekko-http-metrics registry pushes; transport injected
  * like Telemetry's). Each query also reports its latest trigger's
  * `durationMs` phases as timers. */
object StatsdExport {
  private def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9_.-]", "_")

  def lines(snapshot: Map[String, QueryHealth], prefix: String = "graft"): Seq[String] =
    snapshot.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val b = s"$prefix.${sanitize(name)}"
      Seq(
        s"$b.batch_id:${q.batchId}|g",
        s"$b.input_rows:${q.numInputRows}|c",
        s"$b.rows_per_sec:${q.processedRowsPerSecond}|g",
        s"$b.alive:${if (q.alive) 1 else 0}|g") ++
        q.durationMs.toSeq.sorted.map { case (k, ms) => s"$b.duration_ms.${sanitize(k)}:$ms|ms" }
    }

  /** R9's HTTP dimension (reference pekko-http-metrics: request counts
    * and durations by method/status, `Collector.scala:138-160`) rendered
    * from the live edge's [[EdgeMetrics]]. */
  def edgeLines(m: EdgeMetrics, prefix: String = "graft"): Seq[String] = {
    val counts = m.requestCounts.toSeq
      .sortBy { case ((meth, st), _) => (meth, st) }
      .map { case ((meth, st), n) =>
        s"$prefix.http.requests.${sanitize(meth.toLowerCase)}.$st:$n|c" }
    val durations = m.durationMicrosByMethod.toSeq.sortBy(_._1)
      .map { case (meth, us) =>
        s"$prefix.http.duration_us.${sanitize(meth.toLowerCase)}:$us|c" }
    counts ++ durations
  }
}
