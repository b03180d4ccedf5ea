package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful sessionization via flatMapGroupsWithState (SURVEY.md T9:
  * the custom-state road when `session_window` can't express the lifecycle).
  *
  * session_window closes sessions purely by inactivity gap; real session
  * rules often add caps the built-in can't express — this implementation
  * closes a session when EITHER the gap exceeds `gapSeconds` OR the session
  * exceeds `maxDurationSeconds` (the reference producer's sessions die by
  * escalating probability capped at ~30 min, producer/producer.py:66-78, so
  * a duration cap is the deterministic engine-side analogue).
  *
  * State per user is O(1) (running counters), evicted by event-time timeout
  * — the state store never grows beyond |active users|, which is the
  * 100 TB-viable property. Emission is append-style: one row per CLOSED
  * session.
  */
object StatefulSessionizer {

  case class Event(user_id: String, event_type: String, ts_sec: Long,
                   purchase_amount: Double, event_time: java.sql.Timestamp)

  case class SessionState(start_sec: Long, last_sec: Long, events: Long,
                          purchases: Long, revenue: Double)

  case class ClosedSession(user_id: String, start_sec: Long, end_sec: Long,
                           duration_seconds: Long, events: Long,
                           purchases: Long, revenue: Double, close_reason: String)

  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
                 maxDurationSeconds: Long = 7200): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._

    def close(u: String, s: SessionState, reason: String): ClosedSession =
      ClosedSession(u, s.start_sec, s.last_sec, s.last_sec - s.start_sec,
        s.events, s.purchases, s.revenue, reason)

    events // event_time is part of the Event contract, so this always resolves
      .withWatermark("event_time", "1 hour")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: String, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed the inactivity horizon: flush the open session
            val out = state.getOption.map(close(user, _, "timeout")).toList
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts_sec, e.event_type))
            var cur    = state.getOption
            val closed = List.newBuilder[ClosedSession]
            def purchases(e: Event) = if (e.event_type == "purchase") 1L else 0L
            def revenue(e: Event)   = if (e.event_type == "purchase") e.purchase_amount else 0.0
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts_sec < s.start_sec - gapSeconds =>
                  // far-backward late (still above the watermark): it belongs
                  // to an earlier, already-passed period — bridging it into
                  // the live session would create an internal dead zone wider
                  // than the gap rule allows, so emit it as its own session
                  closed += ClosedSession(user, e.ts_sec, e.ts_sec, 0, 1,
                    purchases(e), revenue(e), "late")
                case other =>
                  other match {
                    case Some(s) if e.ts_sec - s.last_sec > gapSeconds =>
                      closed += close(user, s, "gap"); cur = None
                    case Some(s) if e.ts_sec - s.start_sec > maxDurationSeconds =>
                      closed += close(user, s, "max_duration"); cur = None
                    case _ => ()
                  }
                  cur = Some(cur match {
                    case Some(s) => SessionState(
                      // in-watermark out-of-order events widen bounds
                      // monotonically (never shrink)
                      math.min(s.start_sec, e.ts_sec), math.max(s.last_sec, e.ts_sec),
                      s.events + 1, s.purchases + purchases(e), s.revenue + revenue(e))
                    case None => SessionState(e.ts_sec, e.ts_sec, 1, purchases(e), revenue(e))
                  })
                  // backward widening can push the span over the cap, which
                  // the pre-merge check (keyed on the incoming ts) cannot see
                  cur = cur.flatMap { s =>
                    if (s.last_sec - s.start_sec > maxDurationSeconds) {
                      closed += close(user, s, "max_duration"); None
                    } else Some(s)
                  }
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                // evict once the watermark is gapSeconds past the last event
                state.setTimeoutTimestamp((s.last_sec + gapSeconds) * 1000)
              case None => state.remove()
            }
            closed.result().iterator
          }
      }
  }
}
