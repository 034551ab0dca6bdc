package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One input event for sessionization. */
final case class SessEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)

/** Open-session state carried between micro-batches. */
final case class OpenSession(sessionId: Long, startMs: Long, lastMs: Long, n: Long, sum: Double)

/** A closed session (Append-mode output). */
final case class SessionRow(
    user_id: Long, session_id: Long, n_events: Long, session_value: Double,
    start_ms: Long, end_ms: Long)

/** Streaming sessionization with custom state — the
  * `flatMapGroupsWithState` path for semantics `session_window` can't
  * express (running per-user session counter, value accumulation with
  * late-closing on event-time timeout).
  *
  * Semantics match the batch `q_sessionize` query: a gap > `gapMs` of
  * user inactivity closes the session; `session_id` counts 1,2,… per
  * user. Sessions close either when a later event proves the gap, or when
  * the event-time watermark passes `lastMs + gapMs` (timeout). Late
  * events beyond the watermark are the declared correctness boundary —
  * exactly the Structured Streaming contract.
  *
  * Scale: state is one [[OpenSession]] per active user key, hash
  * partitioned across executors; timeouts garbage-collect idle keys, so
  * state size tracks *active* users, not history.
  *
  * State store at scale: the stateful operators (this one, [[StreamJoin]]
  * and [[StreamingDedup]]) default to Spark's heap-backed store — fine
  * locally, but a 100 TB deployment should set
  * `spark.sql.streaming.stateStore.providerClass` to
  * `RocksDBStateStoreProvider` so state lives off-heap with incremental
  * checkpointing (measured at parity locally — BASELINE.md r7 A/B).
  */
object Sessionize {

  def sessionize(
      events: Dataset[SessEvent],
      gapMs: Long,
      watermarkDelay: String = "10 minutes"): Dataset[SessionRow] = {
    implicit val outEnc = Encoders.product[SessionRow]
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val keyEnc = Encoders.scalaLong
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processUser(gapMs))
  }

  private def processUser(gapMs: Long)(
      userId: Long,
      events: Iterator[SessEvent],
      state: GroupState[OpenSession]): Iterator[SessionRow] = {
    if (state.hasTimedOut) {
      // watermark passed lastMs + gap: close the open session
      val s = state.get
      state.remove()
      Iterator.single(SessionRow(userId, s.sessionId, s.n, s.sum, s.startMs, s.lastMs))
    } else {
      val sorted = events.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var open = state.getOption
      val closed = Vector.newBuilder[SessionRow]
      sorted.foreach { e =>
        val t = e.ts.getTime
        open match {
          case Some(s) if t - s.lastMs <= gapMs =>
            open = Some(s.copy(lastMs = math.max(s.lastMs, t), n = s.n + 1, sum = s.sum + e.value))
          case Some(s) =>
            closed += SessionRow(userId, s.sessionId, s.n, s.sum, s.startMs, s.lastMs)
            open = Some(OpenSession(s.sessionId + 1, t, t, 1, e.value))
          case None =>
            open = Some(OpenSession(1, t, t, 1, e.value))
        }
      }
      open.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.lastMs + gapMs)
      }
      closed.result().iterator
    }
  }
}
