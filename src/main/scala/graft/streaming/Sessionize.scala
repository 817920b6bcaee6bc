package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time sessionization over a stream of user events.
  *
  * Reference analogue: the Kedro pipeline's cron-driven incremental
  * ingest (reference: conf/base/parameters.yml cron cadence +
  * src/data_pipeline/pipelines/data_engineering/pipeline.py incremental
  * import) — re-expressed as Structured Streaming so sessions close
  * continuously instead of per cron tick. The batch twin is
  * `Queries.all("q33_sessionize")` (window + gap flag); specs assert the
  * two agree on the same input.
  *
  * Mechanics: watermark on event time bounds state; per-user state holds
  * only the OPEN session (constant size per key, not per event). A new
  * event either extends the open session or closes it (gap exceeded) and
  * the closed session is emitted. `EventTimeTimeout` flushes sessions
  * whose gap window has passed the watermark, so state never outlives
  * gap + lateness — the property that keeps a 1000-executor streaming job
  * stable for months.
  */
object Sessionize {

  case class Evt(user_id: Long, ts: Timestamp, event_id: Long)

  case class OpenSession(start: Long, end: Long, nEvents: Long, idx: Long)

  case class SessionOut(user_id: Long, session_idx: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long)

  /** Sessionize a (possibly streaming) Dataset of events.
    *
    * @param gapSeconds silence longer than this closes a session; when
    *   the watermark passes an open session's gap horizon the session is
    *   emitted and its state dropped (event-time timeout)
    */
  def sessions(events: Dataset[Evt], gapSeconds: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L

    // After a session flushes on timeout, a zero-event COUNTER state
    // (nEvents == 0) survives so the user's next session continues the
    // idx sequence instead of restarting at 0 (which would duplicate
    // (user_id, session_idx) keys and diverge from the batch twin). The
    // counter itself expires after `counterRetention` of silence — the
    // bounded-state guarantee holds, at the documented cost that a user
    // idle longer than that restarts numbering.
    val counterRetention = 10 * gapMs

    def fold(userId: Long, evts: Iterator[Evt],
             state: GroupState[OpenSession]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        if (s.nEvents == 0) { // counter-only state: expire silently
          state.remove()
          return Iterator.empty
        }
        // keep the counter, schedule its expiry
        state.update(OpenSession(s.end, s.end, 0, s.idx))
        state.setTimeoutTimestamp(
          math.max(s.end + counterRetention, state.getCurrentWatermarkMs() + 1))
        return Iterator.single(SessionOut(userId, s.idx, new Timestamp(s.start),
          new Timestamp(s.end), s.nEvents))
      }
      val sorted = evts.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var open = state.getOption
      val closed = Seq.newBuilder[SessionOut]
      sorted.foreach { e =>
        val t = e.ts.getTime
        open match {
          case Some(s) if s.nEvents == 0 => // resume after a flushed session
            open = Some(OpenSession(t, t, 1, s.idx + 1))
          case Some(s) if t - s.end <= gapMs =>
            // min on start too: an out-of-order event that is late but
            // within the watermark can precede the session's first seen
            // event — the batch twin's min(ts) must still match
            open = Some(s.copy(start = math.min(s.start, t),
              end = math.max(s.end, t), nEvents = s.nEvents + 1))
          case Some(s) =>
            closed += SessionOut(userId, s.idx, new Timestamp(s.start),
              new Timestamp(s.end), s.nEvents)
            open = Some(OpenSession(t, t, 1, s.idx + 1))
          case None =>
            open = Some(OpenSession(t, t, 1, 0))
        }
      }
      open.foreach { s =>
        state.update(s)
        // Flush once the watermark passes the session's gap horizon. A
        // late batch can leave that horizon behind the watermark already —
        // setTimeoutTimestamp rejects non-future instants, so clamp.
        state.setTimeoutTimestamp(
          math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
      }
      closed.result().iterator
    }

    events
      .withWatermark("ts", s"$gapSeconds seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fold)
  }
}
