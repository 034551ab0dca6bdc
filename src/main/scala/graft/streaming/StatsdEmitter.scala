package graft.streaming

import java.net.{DatagramPacket, DatagramSocket, InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import graft.operators.StatsdSettings

/** R9 wire half: the UDP push the reference performs via
  * NonBlockingStatsDClient inside DatadogRegistry (reference
  * `core/.../Collector.scala:138-160`; config `model.scala:184-192`).
  * [[StatsdExport]] renders the line protocol; this object actually
  * opens the DatagramSocket and flushes a snapshot every
  * `settings.periodMs` — the reference's aggregationFlushInterval.
  *
  * Scale note: metrics are per-JVM driver-side counters (a handful of
  * lines per flush), so a plain blocking `send` on a scheduler thread
  * is the whole cost model — no executor involvement, no backpressure
  * coupling to the data path (the reference's client is likewise
  * fire-and-forget UDP).
  */
final class StatsdEmitter(
    settings: StatsdSettings,
    lineSources: Seq[() => Seq[String]],
    scheduler: Option[ScheduledExecutorService] = None)
  extends AutoCloseable {

  // Dogstatsd constant tags: rendered once, appended to every line as
  // `|#k:v,k2:v2` (the reference passes them as constantTags to the
  // client builder, which does the same suffixing on the wire).
  private val tagSuffix: String =
    if (settings.tags.isEmpty) ""
    else settings.tags.toSeq.sorted
      .map { case (k, v) => s"${StatsdEmitter.sanitizeTag(k)}:${StatsdEmitter.sanitizeTag(v)}" }
      .mkString("|#", ",", "")

  private val socket = new DatagramSocket()
  private val target = new InetSocketAddress(
    InetAddress.getByName(settings.hostname), settings.port)
  private val exec = scheduler.getOrElse {
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-statsd"); t.setDaemon(true); t
    }
  }
  private val ownsExec = scheduler.isEmpty
  @volatile private var started = false
  @volatile private var task: Option[java.util.concurrent.ScheduledFuture[_]] = None

  /** One flush: render every source, pack lines into MTU-sized
    * datagrams, send. Public so tests (and shutdown) can force a final
    * flush deterministically. Each source renders under its own NonFatal
    * guard: an exception escaping a scheduleAtFixedRate task silently
    * cancels the schedule, so one bad snapshot must never end metric
    * emission for the process lifetime. */
  def flush(): Unit = {
    val lines = lineSources.flatMap { src =>
      try src() catch { case scala.util.control.NonFatal(_) => Seq.empty }
    }.map(_ + tagSuffix)
    StatsdEmitter.pack(lines, StatsdEmitter.MaxPacketBytes).foreach { payload =>
      val bytes = payload.getBytes(StandardCharsets.UTF_8)
      try socket.send(new DatagramPacket(bytes, bytes.length, target))
      catch { case scala.util.control.NonFatal(_) => () } // fire-and-forget, like UDP statsd
    }
  }

  def start(): this.type = {
    if (!started) {
      started = true
      task = Some(exec.scheduleAtFixedRate(
        () => flush(), settings.periodMs, settings.periodMs, TimeUnit.MILLISECONDS))
    }
    this
  }

  private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A last flush, then stop; once (later calls do nothing). */
  override def close(): Unit = if (closed.compareAndSet(false, true)) {
    try flush() finally {
      // cancel explicitly: with a caller-supplied scheduler (ownsExec
      // false) shutdownNow never runs, and an uncancelled task would keep
      // flushing against the closed socket for the scheduler's lifetime
      task.foreach(_.cancel(false))
      if (ownsExec) exec.shutdownNow()
      socket.close()
    }
  }
}

object StatsdEmitter {
  /** Dogstatsd's datagram budget (the client's default non-jumbo MTU
    * payload); multiple lines share a packet separated by '\n'. */
  val MaxPacketBytes = 1432

  private[graft] def sanitizeTag(s: String): String =
    s.replaceAll("[|,#:\n]", "_")

  /** Greedy newline packing under the byte budget; a single oversize
    * line still goes out alone (the server truncates, we don't drop). */
  private[graft] def pack(lines: Seq[String], maxBytes: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var curBytes = 0 // byte count tracked apart from cur.length (UTF-8 ≠ chars)
    lines.foreach { l =>
      val lb = l.getBytes(StandardCharsets.UTF_8).length
      if (cur.isEmpty) { cur.append(l); curBytes = lb }
      else if (curBytes + 1 + lb <= maxBytes) {
        cur.append('\n'); cur.append(l); curBytes += 1 + lb
      } else { out += cur.toString; cur.clear(); cur.append(l); curBytes = lb }
    }
    if (cur.nonEmpty) out += cur.toString
    out.result()
  }

  /** The wiring the reference's `metricRegistry` lazy val performs:
    * enabled-gated construction from config, sourcing both the query-
    * health snapshot and the HTTP method/status dimensions (the
    * DatadogSettings withIncludeMethodDimension/withIncludeStatusDimension
    * flags, reference Collector.scala:155-157). */
  def fromSettings(
      settings: StatsdSettings,
      monitor: PipelineMonitor,
      edge: Option[EdgeMetrics]): Option[StatsdEmitter] =
    if (!settings.enabled) None
    else {
      val sources: Seq[() => Seq[String]] =
        Seq(() => StatsdExport.lines(monitor.snapshot, settings.prefix)) ++
          edge.map(m => () => StatsdExport.edgeLines(m, settings.prefix)).toSeq
      Some(new StatsdEmitter(settings, sources).start())
    }
}
