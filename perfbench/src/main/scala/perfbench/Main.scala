package perfbench

import graft.{CollectorApp, CollectorMain, GraftSession}
import graft.operators.CollectorConfig
import graft.sinks.{EventSink, ParquetDirSink}
import graft.streaming.HttpEdgeServer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The collector benchmark: drives the path `CollectorMain --http` runs
  * (HttpEdgeServer edge → JSONL spool → file source → CollectorApp
  * micro-batch → FailoverSink / ParquetDirSink) with a seeded open-loop
  * load, checks the sinks against the batch result over the same spool,
  * and prints the end-to-end metrics (untraced) or the per-layer metrics
  * and a span file (traced). See perfbench/README.md. */
object Main {

  /** Tags of warm-up requests start here; timed requests are tagged 0..n-1. */
  val WarmBase = 1000000000L
  val SetupCycles = 3
  val Conns = 32
  val TimeoutNs = 10000000000L

  /** An open-loop workload: `rate` requests/s of the mix (or of pixels
    * only) against `CollectorMain.wireHttp` with a `triggerMs` trigger. */
  final case class Workload(name: String, rate: Double, pixelOnly: Boolean, oversize: Double,
      triggerMs: Long, warmRequests: Int)

  val Workloads: Map[String, Workload] = Seq(
    Workload("live_mix", rate = 600, pixelOnly = false, oversize = 0.03, triggerMs = 2000,
      warmRequests = 300),
    Workload("pixel_flood", rate = 800, pixelOnly = true, oversize = 0, triggerMs = 2000,
      warmRequests = 400)).map(w => w.name -> w).toMap

  /** testScale (maxBytes 800, DNT on, loopback port 0) with the Amplitude
    * bridge on, so the bridge route in the mix is a tracked event. */
  val cfg: CollectorConfig = CollectorConfig.testScale.copy(amplitudeBridgeEnabled = true)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, spans: Option[Path], digestOnly: Boolean)

  final case class Dirs(base: Path) {
    def spool: String = base.resolve("spool").toString
    def good: String = base.resolve("good").toString
    def fallback: String = good + "-fallback"
    def bad: String = base.resolve("bad").toString
    def ckpt: String = base.resolve("ckpt").toString
    def sinkDirs: Seq[String] = Seq(good, fallback, bad)
  }

  /** A metric as printed: value, unit and the number of samples behind it. */
  final case class M(value: Double, unit: String, n: Long = 1)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "12").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(m.getOrElse("work", "perfbench-work")),
      m.get("spans").map(Paths.get(_)), m.getOrElse("digest", "0") == "1")
  }

  def timedRequests(w: Workload, seed: Long, seconds: Int): Array[GenRequest] =
    Gen.generate(seed, (w.rate * seconds).toInt, 0L, w.pixelOnly, cfg.maxBytes, w.oversize)

  def warmRequests(w: Workload, seed: Long, cycle: Int): Array[GenRequest] =
    Gen.generate(seed + 7919L * cycle, w.warmRequests, WarmBase + cycle * 10000000L,
      w.pixelOnly, cfg.maxBytes, w.oversize)

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parseArgs(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(a: Args): Unit = {
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val reqs = timedRequests(w, a.seed, a.seconds)
    println(s"[perfbench] generator: ${reqs.length} requests, sha256 ${Gen.digest(reqs)}")
    println(s"[perfbench] generator: ${Gen.describe(reqs, cfg.maxBytes)}")
    if (a.digestOnly) return
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.build(s"local[$cpus]", cpus, "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val meta = Seq(
      "nproc" -> cpus.toString, "spark_master" -> s"local[$cpus]",
      "spark" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "workload" -> w.name, "seed" -> a.seed.toString, "rate" -> w.rate.toString,
      "trigger_ms" -> w.triggerMs.toString, "seconds" -> a.seconds.toString,
      "traced" -> a.trace.toString)
    try {
      val r = new Live(spark, w, a, reqs, progress, tracer).run(sessionS)
      r.print(meta)
      for (t <- tracer; p <- a.spans) {
        Files.createDirectories(p)
        val f = p.resolve(s"spans-${w.name}-${a.seed}.jsonl")
        println(s"[perfbench] ${t.spans.write(f)} spans written to $f")
      }
    } finally spark.stop()
  }

  // ---- shared pieces ----

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  /** The edge as `CollectorMain.wireHttp` builds it. */
  def edgeServer(spool: String, health: Option[() => Boolean]): HttpEdgeServer =
    new HttpEdgeServer(cfg, spool, flushEvery = 256, healthSource = health)

  /** The sinks `CollectorMain.wireHttp` builds, each wrapped by `wrap`. */
  def sinks(d: Dirs, wrap: (EventSink, String) => EventSink): (EventSink, EventSink) =
    (wrap(CollectorApp.defaultGoodSink(d.good, d.fallback), "good"),
      wrap(new ParquetDirSink(d.bad, "bad"), "bad"))

  /** Calls `server.flush()` every trigger interval, as `CollectorMain.main`
    * does, and records how long each flush held the spool. */
  final class Flusher(server: HttpEdgeServer, intervalMs: Long) {
    val flushMs = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    @volatile private var running = true
    private val t = new Thread(() => {
      while (running) {
        try Thread.sleep(intervalMs) catch { case _: InterruptedException => () }
        if (running) {
          val t0 = System.nanoTime()
          server.flush()
          flushMs.add((Clock.epochMs(t0), Clock.nowMs))
        }
      }
    }, "perfbench-flusher")
    t.setDaemon(true)
    t.start()
    def stop(): Unit = { running = false; t.interrupt(); t.join() }
  }

  /** Statuses of the requests that did not get a 2xx/3xx, e.g. "-2x3 503x1". */
  def failureKinds(res: LoadResult): String =
    (0 until res.n).filterNot(res.ok).groupBy(res.status(_)).toSeq.sortBy(_._1)
      .map { case (s, v) => s"${s}x${v.size}" }.mkString(" ")

  /** Cumulative (steal, total) CPU ticks from /proc/stat, when the OS has it:
    * the share of CPU time the hypervisor took from this machine. */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      Some((if (f.length > 7) f(7) else 0L, f.sum))
    } catch { case _: Exception => None }

  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield 100.0 * (s1 - s0) / (t1 - t0)

  def showSteal(steal: Option[Double]): String = steal.fold("n/a")(x => f"$x%.1f%%")

  /** Milliseconds since `t0` (nanoTime). */
  def since(t0: Long): String = f"${(System.nanoTime() - t0) / 1e6}%.0f ms"

  def latencyMs(res: LoadResult, i: Int): Double =
    if (res.ok(i)) (res.done(i) - res.sched(i)) / 1e6 else TimeoutNs / 1e6

  /** Requests answered 2xx/3xx whose tag is not in the spool exactly once,
    * plus spooled tags that no request carried. */
  def tagFailures(sent: Seq[(GenRequest, Boolean)], tags: Map[Long, Seq[String]]): Long = {
    val known = sent.map(_._1.seq).toSet
    sent.count { case (g, ok) => ok && tags.getOrElse(g.seq, Nil).size != 1 } +
      tags.keys.count(k => !known(k))
  }

  def parquetStats(dirs: Seq[String]): (Long, Long) = {
    val files = dirs.map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { d =>
      Files.list(d).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Result of one run, printed as human lines plus one machine line. */
  final class Result(val e2e: Seq[(String, M)], val layer: Seq[(String, M)],
      val attempted: Long, val failed: Long, val correct: Boolean, val notes: Seq[String]) {
    private def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    private def obj(ms: Seq[(String, M)]): String = ms.map { case (k, m) =>
      s""""$k":{"value":${num(m.value)},"unit":"${m.unit}","n":${m.n}}"""
    }.mkString("{", ",", "}")

    def print(meta: Seq[(String, String)]): Unit = {
      notes.foreach(n => println(s"[perfbench] $n"))
      println("[perfbench] end-to-end:")
      e2e.foreach { case (k, m) => println(f"  $k%-16s ${num(m.value)}%14s ${m.unit}%-8s (n=${m.n})") }
      println(f"  fail_ratio       ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%14.6f ratio    ($failed failed / $attempted attempted)")
      if (layer.nonEmpty) {
        println("[perfbench] per-layer:")
        layer.foreach { case (k, m) => println(f"  $k%-30s ${num(m.value)}%16s ${m.unit}") }
      }
      val metaJson = meta.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
      println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""e2e":${obj(e2e)},"layer":${obj(layer)},"meta":$metaJson}""")
    }
  }

  def e2eMetrics(setupS: Double, setupN: Int, req: Seq[Double], fresh: Seq[Double],
      drainEps: Double, drainN: Long): Seq[(String, M)] = Seq(
    "setup_s" -> M(setupS, "s", setupN),
    "req_p50_ms" -> M(pct(req, 0.5), "ms", req.size),
    "req_p99_ms" -> M(pct(req, 0.99), "ms", req.size),
    "fresh_p50_ms" -> M(pct(fresh, 0.5), "ms", fresh.size),
    "fresh_p99_ms" -> M(pct(fresh, 0.99), "ms", fresh.size),
    "drain_eps" -> M(drainEps, "events/s", drainN))
}

import Main._

/** One run: `CollectorMain.wireHttp` as shipped (the traced run wires the
  * same pieces with its sink decorators), a flusher on the trigger
  * interval, and the open-loop generator for the window. */
final class Live(spark: SparkSession, w: Workload, a: Args, reqs: Array[GenRequest],
    progress: ProgressLog, tracer: Option[Tracer]) {

  private def wire(d: Dirs): Wired = {
    val trigger = Trigger.ProcessingTime(w.triggerMs)
    tracer match {
      case None =>
        val (server, running) =
          CollectorMain.wireHttp(spark, d.spool, d.good, d.bad, d.ckpt, trigger, cfg)
        Wired(d, server, running, new Flusher(server, w.triggerMs))
      case Some(t) =>
        // wireHttp's body with the sinks wrapped by the tracing decorator
        @volatile var running: CollectorApp.Running = null
        val server = edgeServer(d.spool, Some(() => running != null && running.monitor.healthy))
        server.start()
        val traced = ArrayBuffer.empty[TracedSink]
        val (good, bad) = sinks(d, (s, leg) => { val x = t.wrap(s, leg); traced += x; x })
        running = CollectorApp.start(spark, server.stream(spark), cfg, good, bad, d.ckpt, trigger)
        traced.foreach(_.queryId = running.query.id.toString)
        Wired(d, server, running, new Flusher(server, w.triggerMs))
    }
  }

  private def stop(x: Wired): Unit = {
    x.flusher.stop(); x.running.query.stop(); x.server.stop()
  }

  def run(sessionS: Double): Result = {
    val cycles = ArrayBuffer.empty[Double]
    var live: Wired = null
    var warm: Array[GenRequest] = null
    var warmRes: LoadResult = null
    for (c <- 1 to SetupCycles) {
      warm = warmRequests(w, a.seed, c)
      val t0 = System.nanoTime()
      val x = wire(Dirs(a.work.resolve(s"cycle$c")))
      val t1 = System.nanoTime()
      warmRes = LoadClient.run(x.server.port, warm.map(_.bytes), System.nanoTime(),
        1e9 / w.rate, Conns, TimeoutNs)
      val t2 = System.nanoTime()
      x.server.flush()
      // set-up ends once a batch holding warm-up traffic has committed
      val qid = x.running.query.id.toString
      while (!progress.batches(qid).values.exists(_.rows > 0) && x.running.query.isActive)
        Thread.sleep(5)
      cycles += (System.nanoTime() - t0) / 1e9
      println(f"[perfbench] cycle $c: wire ${(t1 - t0) / 1e6}%.0f ms, warm-up load ${(t2 - t1) / 1e6}%.0f ms, drain ${since(t2)}")
      if (c < SetupCycles) stop(x) else live = x
    }
    val setupS = sessionS + median(cycles.toSeq)

    // ---- timed window ----
    val bytes = reqs.map(_.bytes)
    val edgeBefore = EdgeSnapshot(live.server)
    live.flusher.flushMs.clear()
    tracer.foreach(_.open())
    val openNs = System.nanoTime() + 1000000L
    val ticks0 = cpuTicks()
    val res = LoadClient.run(live.server.port, bytes, openNs, 1e9 / w.rate, Conns, TimeoutNs)
    val steal = stealPct(ticks0, cpuTicks())
    val sentNs = System.nanoTime()
    live.server.flush()
    live.running.query.processAllAvailable()
    val drainedNs = System.nanoTime()
    tracer.foreach(_.close())
    val edge = EdgeSnapshot(live.server).minus(edgeBefore)
    val qid = live.running.query.id.toString
    stop(live)

    // ---- where every request went ----
    val d = live.dirs
    val tags = Spool.tags(d.spool)
    val fileBatch = Spool.fileBatches(d.ckpt)
    progress.await(qid, fileBatch.values.toSet)
    val batches = progress.batches(qid)
    val openMs = Clock.epochMs(openNs)
    val req = reqs.indices.map(i => latencyMs(res, i))
    val batchEnd: Long => Option[Double] = seq =>
      tags.get(seq).flatMap(_.headOption).flatMap(fileBatch.get).flatMap(batches.get).map(_.endMs)
    val sent = Seq((warm, warmRes), (reqs, res))
    val ends = sent.flatMap { case (g, r) => g.indices.filter(r.ok).map(i => (r, i, batchEnd(g(i).seq))) }
    val fresh = ends.collect { case (r, i, Some(e)) if r eq res => e - Clock.epochMs(r.sched(i)) }
    val unconsumed = ends.count(_._3.isEmpty)
    val tagFail = tagFailures(sent.flatMap { case (g, r) => g.indices.map(i => g(i) -> r.ok(i)) }, tags)

    // ---- output check ----
    val checkNs = System.nanoTime()
    val exp = new Expected(spark, d.spool, cfg)
    val chk = exp.check(d.good, d.fallback, d.bad)
    val checkTook = since(checkNs)
    val (tg, tb) = exp.timedRows(reqs.head.seq, reqs.last.seq + 1)
    val lastEnd = ends.collect { case (r, _, Some(e)) if r eq res => e }.maxOption.getOrElse(openMs)
    val drainEps = (tg + tb) / math.max(1e-3, (lastEnd - openMs) / 1000.0)
    val failed = sent.map(_._2.failures).sum + tagFail + unconsumed + chk.failures
    val attempted = sent.map(_._1.length.toLong).sum
    val notes = Seq(
      f"setup: session ${sessionS}%.3f s + median of cycles ${cycles.map(c => f"$c%.3f").mkString("[", ", ", "]")} s",
      s"requests: ${res.failures} failed (${failureKinds(res)}) of ${reqs.length} timed, " +
        s"${warmRes.failures} of ${warm.length} warm-up; " +
        s"tag check failures $tagFail; answered but never committed $unconsumed",
      s"output check: envelopes ${chk.envelopes} = good ${chk.good} + bad_size ${chk.badSize} + " +
        s"bad_generic ${chk.badGeneric} + suppressed ${chk.suppressed} -> ${chk.identityHolds}; " +
        s"mismatched rows good ${chk.goodMismatch} bad ${chk.badMismatch}; " +
        f"good leg fallback rows ${chk.fallback}; oversized share ${chk.badSize.toDouble / math.max(1, chk.envelopes)}%.4f",
      f"phases: load ${(sentNs - openNs) / 1e6}%.0f ms, tail drain ${(drainedNs - sentNs) / 1e6}%.0f ms, " +
        s"output check $checkTook; CPU steal during the load ${showSteal(steal)}")
    val layer = tracer.map { t =>
      t.report(reqs, res, edge, live.flusher, d, qid, openMs, progress, exp, chk, fileBatch)
    }.getOrElse(Nil)
    exp.close()
    new Result(e2eMetrics(setupS, SetupCycles, req, fresh, drainEps, tg + tb), layer,
      attempted, failed, failed == 0 && chk.identityHolds, notes)
  }
}

/** One wired collector: the edge, the running query and the flusher. */
final case class Wired(dirs: Dirs, server: HttpEdgeServer, running: CollectorApp.Running,
    flusher: Flusher)

/** `EdgeMetrics` counters at one instant. */
final case class EdgeSnapshot(counts: Map[(String, Int), Long], micros: Map[String, Long]) {
  def minus(o: EdgeSnapshot): EdgeSnapshot = EdgeSnapshot(
    counts.map { case (k, v) => k -> (v - o.counts.getOrElse(k, 0L)) },
    micros.map { case (k, v) => k -> (v - o.micros.getOrElse(k, 0L)) })
}
object EdgeSnapshot {
  def apply(s: HttpEdgeServer): EdgeSnapshot =
    EdgeSnapshot(s.metrics.requestCounts, s.metrics.durationMicrosByMethod)
}
