package graft.sinks

import org.apache.spark.sql.DataFrame

/** R1: jittered retry backoff — semantics of the reference's policy
  * (`kinesis/.../KinesisSink.scala:356-363`,
  * `kafka/.../sinks/sqs/RetryPolicy.scala:14-48`):
  * next = max(uniform[minMs, maxMs], lastBackoff * 2 / 3), bounded count.
  * Seeded for deterministic tests; driver-side only (task-level retries
  * stay with Spark's scheduler).
  */
final class RetryPolicy(
    minMs: Long,
    maxMs: Long,
    val maxRetries: Int,
    seed: Long = System.nanoTime()) {
  private val rnd = new scala.util.Random(seed)
  private var last = 0L

  /** Next backoff in millis. */
  def nextBackoffMs(): Long = {
    val jittered = minMs + (rnd.nextDouble() * (maxMs - minMs)).toLong
    last = math.max(jittered, last * 2 / 3)
    last
  }

  def reset(): Unit = last = 0L
}

/** R4: circuit breaker (Closed → Open after maxFailures; Open → HalfOpen
  * after resetMs; HalfOpen: one probe, success closes, failure re-opens).
  * Reference `kafka/.../sinks/sqs/CircuitBreaker.scala:18-137`. The clock
  * is injected for tests. */
final class CircuitBreaker(
    maxFailures: Int,
    resetMs: Long,
    clock: () => Long = () => System.currentTimeMillis()) {

  sealed trait State
  case object Closed extends State
  case object Open extends State
  case object HalfOpen extends State

  private var failures = 0
  private var openedAt = 0L
  private var st: State = Closed

  def state: State = this.synchronized {
    if (st == Open && clock() - openedAt >= resetMs) st = HalfOpen
    st
  }

  def allowRequest: Boolean = state != Open

  def onSuccess(): Unit = this.synchronized { failures = 0; st = Closed }

  def onFailure(): Unit = this.synchronized {
    failures += 1
    if (st == HalfOpen || failures >= maxFailures) { st = Open; openedAt = clock() }
  }
}

/** R2/R3: primary/fallback sink with bounded retries and circuit breaking.
  * Write path per micro-batch:
  *   1. primary, retried per [[RetryPolicy]] while its breaker allows;
  *   2. on exhaustion, fallback (reference: Kinesis→SQS buffer);
  *   3. if both fail, rethrow — Spark fails the micro-batch and the
  *      checkpoint replays it (strictly stronger than the reference's
  *      drop-after-retries, SURVEY §7.4.4).
  * An interrupt is no sink failure: stopping the query interrupts its
  * batch thread, and the interrupted write's job can still be finishing
  * into the same output, so a retry or a failover there could land the
  * batch twice. It propagates at once and the checkpoint replays the
  * batch on restart.
  *
  * A replay stays on the arm that took the batch: when an arm already
  * [[EventSink.holds]] it, the write goes straight there (a no-op for a
  * committed file sink, a rollback and rewrite for a half-written one),
  * never through the retry → fallback path, which could land the batch
  * in the other directory too. The fallback is asked first: it is only
  * written after the primary gave the batch up. A held arm that fails
  * fails the batch, and the checkpoint replays it to that arm again.
  * Client sinks hold nothing, so their replays take the full path.
  * `sleeper` is injected so tests don't wait out real backoffs.
  */
final class FailoverSink(
    primary: EventSink,
    fallback: EventSink,
    retry: RetryPolicy,
    breaker: CircuitBreaker,
    sleeper: Long => Unit = Thread.sleep) extends EventSink {

  val name = s"failover(${primary.name}->${fallback.name})"

  def write(batch: DataFrame, batchId: Long): Unit =
    if (fallback.holds(batchId)) fallback.write(batch, batchId)
    else if (primary.holds(batchId)) primary.write(batch, batchId)
    else retryThenFallback(batch, batchId)

  private def retryThenFallback(batch: DataFrame, batchId: Long): Unit = {
    var attempt = 0
    var done = false
    var lastErr: Throwable = null
    while (!done && attempt <= retry.maxRetries && breaker.allowRequest && primary.healthy) {
      try {
        primary.write(batch, batchId)
        breaker.onSuccess()
        retry.reset()
        done = true
      } catch {
        case e: Throwable if !interrupted(e) =>
          lastErr = e
          breaker.onFailure()
          attempt += 1
          if (attempt <= retry.maxRetries) sleeper(retry.nextBackoffMs())
      }
    }
    if (!done) {
      try {
        fallback.write(batch, batchId)
        done = true
      } catch {
        case e: Throwable =>
          throw new RuntimeException(
            s"both sinks failed (primary: ${Option(lastErr).map(_.getMessage).orNull})", e)
      }
    }
  }

  /** An interrupt anywhere in the cause chain (Spark wraps a task's
    * failure as the cause of its job's). A `SocketTimeoutException` is an
    * `InterruptedIOException` too, but it is a transient client failure:
    * it stays retryable. The walk stops at a cause it has already seen. */
  private def interrupted(e: Throwable): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean])
    Iterator.iterate(e)(_.getCause).takeWhile(c => c != null && seen.add(c)).exists {
      case _: java.net.SocketTimeoutException => false
      case _: InterruptedException | _: java.io.InterruptedIOException |
          _: java.nio.channels.ClosedByInterruptException => true
      case _ => false
    }
  }
}

/** R5/R12: the reference's background sink STARTUP check
  * (`KinesisSink.scala:372-420` checkKinesisHealth/checkSqsHealth, same
  * shape in every sink module): poll a target-existence probe — stream
  * ACTIVE, queue URL resolvable, broker reachable — every
  * `startupCheckInterval` until it succeeds; `/sink-health` serves 503
  * until the flag flips. The probe is injected (the reflection SDK
  * clients supply the real describe/getQueueUrl calls in a deployment;
  * specs supply failing-then-passing stubs), the LOOP — bounded probing,
  * exception-safe, configured interval between attempts — is what this
  * class owns. `await` runs inline (tests, synchronous startup gates);
  * [[start]] runs it on a daemon thread like the reference's
  * executorService.execute. */
final class SinkStartupCheck(
    val name: String,
    probe: () => Boolean,
    intervalMs: Long,
    sleeper: Long => Unit = Thread.sleep) {
  @volatile private var ok = false

  /** Has the target been seen healthy yet? (The `/sink-health` source.) */
  def healthy: Boolean = ok

  /** Poll until the probe succeeds or `maxAttempts` is spent; a throwing
    * probe counts as a failed attempt (reference logs-and-retries).
    * Returns the final state. */
  def await(maxAttempts: Int = Int.MaxValue): Boolean = {
    var n = 0
    while (!ok && n < maxAttempts) {
      ok = try probe() catch { case scala.util.control.NonFatal(_) => false }
      n += 1
      if (!ok && n < maxAttempts) sleeper(intervalMs)
    }
    ok
  }

  /** Background form — the reference's daemon poller. */
  def start(): Thread = {
    val t = new Thread(new Runnable { def run(): Unit = { await(); () } },
      s"startup-check-$name")
    t.setDaemon(true)
    t.start()
    t
  }
}
