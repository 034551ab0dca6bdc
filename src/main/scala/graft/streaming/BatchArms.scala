package graft.streaming

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** One call's concurrent arms: the ONE place that decides how a batch's
  * overlapped Spark work runs, fails and cleans up. [[BatchArms.apply]]
  * runs a body on the caller's thread under a fresh Spark job tag; the
  * body [[fork]]s named arms and registers [[release]]s.
  *
  *  - Each arm runs on a fresh daemon thread, so it inherits the
  *    caller's Spark local properties at fork time: job group (stopping
  *    a streaming query cancels its arms' jobs), query and batch ids,
  *    and the scope's tag. The arm's name becomes its job description.
  *  - The first failure (body, arm or release) cancels every job
  *    carrying the tag; no thread is interrupted. The scope then joins
  *    every arm, re-cancelling while any is still alive, and rethrows
  *    that first error with the others attached as suppressed. An arm
  *    forked after the failure never starts.
  *  - Releases (`unpersist`, broadcast `destroy`) run last-in first-out
  *    once every arm has ended, on success and failure alike.
  *
  * Exactly-once under `foreachBatch` (Structured Streaming, SIGMOD 2018)
  * needs every write of a batch to end before the engine commits that
  * batch: a scope returns only after all its arms have ended, so a
  * micro-batch body that runs its writes inside one keeps that order. */
final class BatchArms private (sc: SparkContext, val tag: String) {

  private val first = new AtomicReference[Throwable]
  private val errors = new ConcurrentLinkedQueue[Throwable]
  private val arms = new ConcurrentLinkedQueue[Arm[_]]
  private val releases = new ConcurrentLinkedQueue[() => Unit]

  /** A forked arm; [[join]] waits for it and returns its value or
    * rethrows its error. */
  final class Arm[A] private[BatchArms] (name: String, body: => A) {
    @volatile private var out: Either[Throwable, A] = _
    private[BatchArms] val thread = new Thread(() => {
      sc.setJobDescription(name)
      out = try Right(body) catch { case t: Throwable => fail(t); Left(t) }
    }, name)
    thread.setDaemon(true)

    def join(): A = { thread.join(); out.fold(throw _, a => a) }
  }

  /** Start `body` as an arm named `name`. */
  def fork[A](name: String)(body: => A): Arm[A] = {
    if (first.get != null)
      throw new java.util.concurrent.CancellationException(s"$name: a sibling arm failed")
    val arm = new Arm(name, body)
    arms.add(arm)
    arm.thread.start()
    arm
  }

  /** Run `f` once every arm of this scope has ended. */
  def release(f: => Unit): Unit = releases.add(() => f)

  private def fail(t: Throwable): Unit = {
    errors.add(t)
    if (first.compareAndSet(null, t)) sc.cancelJobsWithTag(tag)
  }

  private def joinAll(): Unit = {
    var interrupted = false
    var arm = arms.poll()
    while (arm != null) {
      try arm.thread.join(100)
      catch { case e: InterruptedException => interrupted = true; fail(e) }
      if (!arm.thread.isAlive) arm = arms.poll()
      else if (first.get != null) sc.cancelJobsWithTag(tag)
    }
    if (interrupted) Thread.currentThread().interrupt()
  }
}

object BatchArms {
  private val seq = new AtomicLong

  def apply[A](spark: SparkSession)(body: BatchArms => A): A = {
    val sc = spark.sparkContext
    val scope = new BatchArms(sc, s"graft-arms-${seq.incrementAndGet()}")
    sc.addJobTag(scope.tag)
    val out = try Some(body(scope)) catch { case t: Throwable => scope.fail(t); None }
    try scope.joinAll()
    finally {
      sc.removeJobTag(scope.tag)
      scope.releases.toArray(Array.empty[() => Unit]).reverseIterator.foreach { r =>
        try r() catch { case t: Throwable => scope.fail(t) }
      }
    }
    val err = scope.first.get
    if (err == null) out.get
    else {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Throwable, java.lang.Boolean])
      seen.add(err)
      scope.errors.forEach(t => if (seen.add(t)) err.addSuppressed(t))
      throw err
    }
  }
}

/** r18b (guide §1.5): label the Spark jobs a serve phase submits so the
  * UI / listener-based probes attribute per-batch wall to phases. Job
  * descriptions are thread-local; a [[BatchArms]] arm takes its name as
  * its description instead. */
object JobLabel {
  def apply[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }
}
